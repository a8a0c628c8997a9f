"""Tests of the benchmark's own code: generator determinism, digest
order independence and the quality and cluster checks.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _with_delta(seed: int, d: str) -> dict:
    # the same base for every seed: only the delta's seed varies
    gen.chat_transcripts(1, os.path.join(d, "base.parquet"), 400, 150, 30)
    return gen.chat_delta(seed, os.path.join(d, "base.parquet"), os.path.join(d, "new.parquet"))


def _docs(seed: int, d: str) -> dict:
    info = gen.neardup_documents(seed, os.path.join(d, "docs.parquet"), 300, clique=20)
    return {"props": info["props"], "family": info["family"]}


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.tpch_tables(seed, d, 300),
    lambda seed, d: gen.chat_transcripts(seed, os.path.join(d, "t.parquet"), 400, 150, 30),
    lambda seed, d: _with_delta(seed, d),
    lambda seed, d: _docs(seed, d),
], ids=["tpch_tables", "chat_transcripts", "chat_delta", "neardup_documents"])
def test_generators_are_byte_identical_per_seed(tmp_path, make):
    os.makedirs(tmp_path / "a")
    os.makedirs(tmp_path / "b")
    os.makedirs(tmp_path / "c")
    first = make(7, str(tmp_path / "a"))
    second = make(7, str(tmp_path / "b"))
    other = make(8, str(tmp_path / "c"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert first == second
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert first != other


def test_queries_are_deterministic_per_seed():
    vocab = ["Alpha Beta", "@alpha-beta", "KGP-123"]
    assert gen.queries(3, vocab, 50) == gen.queries(3, vocab, 50)
    assert gen.queries(3, vocab, 50) != gen.queries(4, vocab, 50)


def test_chat_mentions_respect_stated_maximum(tmp_path):
    info = gen.chat_transcripts(1, str(tmp_path / "t.parquet"), 2000, 300, 50, max_mentions=40)
    assert info["props"]["max_mentions_per_turn"] <= 40
    assert 0 < info["props"]["hot_entity_share"] < 1


def test_chat_delta_touches_about_the_stated_share(tmp_path):
    base, new = str(tmp_path / "base.parquet"), str(tmp_path / "new.parquet")
    gen.chat_transcripts(2, base, 1600, 300, 50)
    info = gen.chat_delta(2, base, new, share=0.02)
    assert info["conversations_touched"] == 4  # 2% of 200
    import pyarrow.parquet as pq

    old, cur = pq.read_table(base), pq.read_table(new)
    assert cur.num_rows == old.num_rows + info["delta_turns"]
    keys = list(zip(cur.column("conv_id").to_pylist(), cur.column("turn_idx").to_pylist()))
    assert len(set(keys)) == len(keys)  # appended turns never reuse a turn_idx


def test_verify_clusters_against_planted_families():
    texts = ["a b c d e f g", "a b c d e f g", "a b c d e f g h", "p q r s", "x y z w"]
    family = [0, 0, 0, -1, -2]
    good = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}
    assert checks.verify_clusters(texts, family, good) == (1.0, [])
    recall, problems = checks.verify_clusters(texts, family, {**good, 2: 2})
    assert recall == pytest.approx(1 / 3) and problems  # two qualifying pairs split
    assert checks.verify_clusters(texts, family, {**good, 3: 0})[1]  # a unique doc merged
    assert checks.verify_clusters(texts, family, {0: 0, 1: 0})[1]  # docs missing


def test_pair_scores_closed_form():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2}
    # predicted: {a, b} together, c alone, d alone
    recall, precision = checks.pair_scores({"a": 0, "b": 0, "c": 5, "d": 6}, truth)
    assert recall == pytest.approx(1 / 3)
    assert precision == 1.0
    # everything merged: 3 true pairs of 6 predicted
    recall, precision = checks.pair_scores(dict.fromkeys(truth, 0), truth)
    assert recall == 1.0
    assert precision == 0.5


def test_verify_pairs_flags_wrong_and_missing_pairs():
    surfaces = ["Marla Okafor", "@marla-okafor", "Zed Quux"]
    a, b = sorted(surfaces[:2])
    # identical normal form: jaccard 1, cosine 1
    assert checks.verify_pairs(surfaces, [(a, b, 1.0, 1.0)], [(a, b)]) == []
    assert checks.verify_pairs(surfaces, [(a, b, 0.9, 1.0)], [])  # wrong score
    assert checks.verify_pairs(surfaces, [], [(a, b)])  # qualifying pair missing


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    yield s
    s.stop()


def test_digest_is_independent_of_row_order(spark):
    rows = [(i % 7, f"s{i}", float(i) / 3) for i in range(200)]
    df = spark.createDataFrame(rows, "a int, b string, c double")
    cols = ["a", "b", "c"]
    base = checks.digest(df, cols)
    assert checks.digest(spark.createDataFrame(rows[::-1], df.schema), cols) == base
    assert checks.digest(df.repartition(5, "b").orderBy("c"), cols) == base
    assert checks.digest(df.limit(199), cols) != base
    # a row added twice cancels in the XOR; the mixed-in count still differs
    assert checks.digest(spark.createDataFrame(rows + rows[:1] * 2, df.schema), cols) != base
