"""Cross-engine parity on RANDOM text (not just the fixed testdata):
the same generated corpus is loaded into Spark and DuckDB and the
shared-definition operators must agree value-for-value. This guards
the dialect-intersection assumptions (regex subset, md5-hash trick,
split semantics) against drift that the fixed-corpus oracle sweep
can't see."""

import random

import duckdb
import pandas as pd
import pytest

from code_index_spark.operators.dedupe import simhash, simhash_pairs_sql, simhash_sigs_sql
from code_index_spark.operators.extract import extract_triples_sql
from code_index_spark.operators.textstats import fingerprint, fingerprint_sql
from code_index_spark.oracle import triples_rows_sql

_WORDS = (
    "alpha beta gamma delta cache merge spark rows table join shuffle "
    "skew bucket entity triple index stream batch window state"
).split()

_SPICE = [
    'note "quoted literal here"',
    "see `back_tick.ident`",
    "docs at https://example.example/path-1",
    "wrote to /var/data/out",
    "then run_scan() quickly",
    "if the cache is warm",
    "not worth a rerun now",
    "bumped to v2.7.1",
    "uses from pyspark import functions ok",
    "then df.cache()",
    "filed ABC-123",
    "took 42 ms",
    "ping @some-handle",
    "met with Proper Name",
    "import numpy.linalg ok",
]


@pytest.fixture(scope="module")
def corpus():
    rnd = random.Random(1234)
    rows = []
    for i in range(90):
        parts = [rnd.choice(_WORDS) for _ in range(rnd.randrange(0, 25))]
        for _ in range(rnd.randrange(0, 3)):
            parts.insert(rnd.randrange(len(parts) + 1), rnd.choice(_SPICE))
        text = " ".join(parts)
        rows.append((i, rnd.choice(["user", "assistant", "system", "tool"]), text))
    rows += [(90, "user", ""), (91, "tool", "   "), (92, "system", "x " * 300)]
    return pd.DataFrame(rows, columns=["doc_id", "role", "text"])


def _duck(corpus):
    con = duckdb.connect()
    con.register("docs_src", corpus)
    con.execute("CREATE VIEW documents AS SELECT doc_id, text FROM docs_src")
    con.execute(
        "CREATE VIEW transcripts AS SELECT CAST(doc_id AS STRING) AS conv_id,"
        " 0 AS turn_idx, role, text FROM docs_src"
    )
    return con


def test_simhash_parity_on_random_text(spark, corpus):
    sdf = spark.createDataFrame(corpus[["doc_id", "text"]])
    got = {r["id"]: r["simhash"] for r in simhash(sdf, "doc_id", "text").collect()}
    con = _duck(corpus)
    want = dict(con.execute(simhash_sigs_sql() + " SELECT id, simhash FROM sigs").fetchall())
    assert got == want
    # pairs too (banded engine vs all-pairs SQL)
    from code_index_spark.operators.dedupe import simhash_near_pairs

    eng = {(r["id_a"], r["id_b"], r["hamming"])
           for r in simhash_near_pairs(simhash(sdf, "doc_id", "text"), 6).collect()}
    sql = set(map(tuple, con.execute(simhash_pairs_sql(6)).fetchall()))
    assert eng == sql


def test_fingerprint_parity_on_random_text(spark, corpus):
    sdf = spark.createDataFrame(corpus[["doc_id", "text"]])
    got = {r["id"]: r["fingerprint"] for r in fingerprint(sdf, "doc_id", "text").collect()}
    want = dict(_duck(corpus).execute(fingerprint_sql()).fetchall())
    assert got == want


def test_extraction_parity_on_random_text(spark, corpus):
    from collections import Counter

    tdf = spark.createDataFrame(
        corpus.assign(conv_id=corpus.doc_id.astype(str), turn_idx=0)[
            ["conv_id", "turn_idx", "role", "text"]
        ]
    )
    got = Counter(
        (r["conv_id"], r["pred"], r["obj"], r["rule_id"])
        for r in extract_triples_sql(tdf).collect()
    )
    rows = _duck(corpus).execute(
        f"SELECT conv_id, pred, obj, rule_id FROM ({triples_rows_sql()})"
    ).fetchall()
    want = Counter(rows)
    assert got == want


def test_ngram_jaccard_parity_with_nulls_and_planted_dups(spark, corpus):
    """ngram_jaccard_pairs against the registry's DuckDB oracle on the
    random corpus plus NULL, empty and whitespace-only texts, exact
    duplicates and planted near-duplicates. A NULL text has no
    shingles, so it pairs with nothing; '' and '   ' share the ''
    shingle and pair at 1.0."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from code_index_spark.operators.dedupe import ngram_jaccard_pairs

    rnd = random.Random(99)
    words = [f"{rnd.choice(_WORDS)}{i}" for i in range(30)]
    long_doc = " ".join(words)
    short_doc = next(t for t in corpus.text if len(t.split()) >= 5)
    extra = [
        (100, "user", None), (101, "user", ""), (102, "tool", "   "),
        (103, "user", None), (104, "user", "a b c d"),
        (105, "user", long_doc), (106, "user", long_doc),
        (107, "user", long_doc + " tail"),
        (108, "user", " ".join(words[:15] + ["swapped"] + words[16:])),
        (109, "user", short_doc),
    ]
    docs = pd.concat([corpus, pd.DataFrame(extra, columns=corpus.columns)],
                     ignore_index=True)
    sdf = spark.createDataFrame(docs[["doc_id", "text"]], "doc_id long, text string")
    got = sorted(
        tuple(r) for r in ngram_jaccard_pairs(sdf, "doc_id", "text", 3, 0.8)
        .select("id_a", "id_b", F.round("jaccard", 4)).collect()
    )
    want = sorted(map(tuple, _duck(docs).execute(
        entry.oracle_sql()["dedup_ngram_jaccard"]).fetchall()))
    assert got == want
    assert not [p for p in got if {100, 103} & set(p[:2])]
    assert {(101, 102, 1.0), (105, 106, 1.0)} <= set(got)
    assert {(105, 107), (105, 108)} <= {p[:2] for p in got}
