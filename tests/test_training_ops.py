"""Training-data operators: dedupe variants, similarity search,
text stats — correctness on constructed inputs with known answers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from code_index_spark.operators.dedupe import (
    embedding_cosine_pairs,
    exact_duplicates,
    minhash_band_candidates,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from code_index_spark.operators.simsearch import (
    brute_force_topk,
    build_lsh_index,
    lsh_bucketed_topk,
)
from code_index_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_features,
    repetition_features,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra tail words"),  # near dup of 0
        (3, "completely different content about spark shuffle partitions here"),
        (4, "el gato la casa de madrid es bonita hoy"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedupe(spark, docs):
    dups = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(dups) == 1
    assert dups[0]["n_dups"] == 2 and dups[0]["keep_id"] == 0


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_verified_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert (0, 1) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_candidates_contain_all_true_pairs(spark):
    """Containment gate: band candidates, with the tables sized for
    recall at 0.7, must be a superset of every pair with exact
    shingle-Jaccard ≥ 0.7 (recall check the driver's rows-only row
    can't express)."""
    import itertools
    import random

    rnd = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        toks = [rnd.choice(vocab) for _ in range(25)]
        rows.append((i, " ".join(toks)))
        if i % 4 == 0:  # planted near-dup
            t2 = list(toks)
            t2[3] = rnd.choice(vocab)
            rows.append((500 + i, " ".join(t2)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t, n=3):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sh = {i: shingles(t) for i, t in rows}
    true_pairs = {
        (a, b)
        for a, b in itertools.combinations(sorted(sh), 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.7
    }
    from code_index_spark.functions.minhash import tables_for_recall

    cands = {(r["id_a"], r["id_b"])
             for r in minhash_band_candidates(
                 df, "doc_id", "text", 3, tables_for_recall(0.7, 1e-6)).collect()}
    assert true_pairs <= cands
    # and the verified (blocked + exact rescore) operator returns exactly
    # the true pair set with exact jaccard values
    verified = {(r["id_a"], r["id_b"])
                for r in minhash_verified_pairs(df, "doc_id", "text", 3, 0.7).collect()}
    assert verified == true_pairs


def test_minhash_boilerplate_clique_cap(spark):
    """Stop-bucket cap vs a planted boilerplate clique (the 600k-doc
    curation bench originally OOM'd on exactly this shape): B short
    templated docs share ONE constant gram, so the shared gram wins the
    min-hash with probability ≈ 1/#grams and puts ~B/3 of the clique in
    a single bucket per band — O(B²) candidates from docs whose true
    pairwise jaccard (1/5 here) is far below any production threshold.
    The cap must crush the candidate volume while leaving the VERIFIED
    output identical, because everything it drops rescores below the
    threshold anyway."""
    rows = []
    for i in range(100):  # the clique: "zz yy xx u2i u2i+1"
        rows.append((i, f"zz yy xx u{2 * i} u{2 * i + 1}"))
    for i in range(100, 130):  # independent docs + planted near-dups
        body = " ".join(f"t{i}x{j}" for j in range(12))
        rows.append((i, body))
        if i % 3 == 0:
            rows.append((1000 + i, body + " tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    n_uncapped = minhash_band_candidates(df, "doc_id", "text", 3, 9).count()
    n_capped = minhash_band_candidates(
        df, "doc_id", "text", 3, 9, max_bucket=10
    ).count()
    assert n_uncapped > 1000  # the clique floods the uncapped join
    assert n_capped < n_uncapped / 10  # cap restores ~linear volume

    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_verified_pairs(df, "doc_id", "text", 3, 0.8).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_verified_pairs(
                  df, "doc_id", "text", 3, 0.8, max_bucket=10).collect()}
    assert capped == uncapped
    assert {(i, 1000 + i) for i in range(102, 130, 3)} <= capped


def test_simhash_properties(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    assert sigs[0] != sigs[3]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(
                 simhash(docs, "doc_id", "text"), max_hamming=10).collect()}
    assert pairs.get((0, 1)) == 0


def test_simhash_banded_recall_equals_bruteforce(spark):
    """The banded join must return EVERY pair within the radius — the
    round-1 bug was a band count too small for the requested Hamming
    distance. Compare against exact all-pairs popcount on the driver."""
    import itertools
    import random

    rnd = random.Random(13)
    vocab = [f"tok{i}" for i in range(50)]
    texts = []
    for i in range(120):
        base = [rnd.choice(vocab) for _ in range(30)]
        texts.append((i, " ".join(base)))
        if i % 3 == 0:  # planted near-dup: small edit
            edited = list(base)
            edited[rnd.randrange(len(edited))] = rnd.choice(vocab)
            texts.append((1000 + i, " ".join(edited)))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    for max_h in (3, 6, 10):
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs(
                simhash(df, "doc_id", "text"), max_hamming=max_h
            ).collect()
        }
        assert got == want, f"max_hamming={max_h}: banded != brute force"


def test_embedding_triangle_allpairs_exact(spark):
    """The triangle-distributed all-pairs join must return exactly the
    naive O(n²) pair set — distribution changes the plan, not the math."""
    import itertools

    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "id long, v array<double>",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_cosine_pairs(df, "id", "v", threshold=0.3, n_blocks=4).collect()}
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    want = {(a, b) for a, b in itertools.combinations(range(60), 2)
            if cos(vecs[a], vecs[b]) >= 0.3}
    assert got == want


def test_embedding_coord_blocked_is_subset_with_shared_signs(spark):
    from code_index_spark.operators.dedupe import embedding_cosine_pairs_blocked

    rng = np.random.RandomState(5)
    vecs = rng.randn(80, 8)
    vecs[50] = vecs[10] * 1.5  # exact-direction dup shares every sign
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "id long, v array<double>",
    )
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_cosine_pairs(df, "id", "v", threshold=0.3).collect()}
    blocked = {(r["id_a"], r["id_b"]) for r in
               embedding_cosine_pairs_blocked(df, "id", "v", 0.3, sign_coords=4).collect()}
    assert blocked <= exact  # blocking only prunes, never invents
    assert (10, 50) in blocked  # same-direction dup survives blocking


def test_embedding_cosine_pairs_and_blocking(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(16)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 2.0]),        # cosine 1.0 with 0
        (2, [float(x) for x in base + rng.randn(16) * 0.01]),  # ~1.0
        (3, [float(x) for x in rng.randn(16)]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_cosine_pairs(df, "id", "v", 0.99).collect()}
    assert (0, 1) in exact and exact[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in exact


def test_ivf_topk_recall(spark):
    """IVF coarse quantization: the query's own cluster neighborhood is
    found; top-1 (self) always survives probing, and top-5 overlap with
    exact search stays high on clustered data."""
    from code_index_spark.operators.simsearch import build_ivf_index, ivf_topk

    rng = np.random.RandomState(21)
    centers = rng.randn(4, 16) * 5
    vecs = np.vstack([centers[i % 4] + rng.randn(16) * 0.3 for i in range(200)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "id long, v array<double>",
    )
    indexed, centroids = build_ivf_index(df, "id", "v", n_cells=4)
    q = [float(x) for x in vecs[7]]
    exact = [r["id"] for r in brute_force_topk(df, "id", "v", q, 5).collect()]
    approx = [r["id"] for r in ivf_topk(indexed, centroids, q, 5, n_probe=2).collect()]
    assert approx[0] == 7  # self found
    assert len(set(exact) & set(approx)) >= 4  # near-exact on clustered data


def test_brute_force_topk_and_lsh_agree(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(200, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "id long, v array<double>",
    )
    q = [float(x) for x in vecs[5]]
    exact = [r["id"] for r in brute_force_topk(df, "id", "v", q, 5).collect()]
    assert exact[0] == 5  # self is the nearest
    indexed, planes = build_lsh_index(df, "id", "v", n_planes=6)
    approx = [r["id"] for r in lsh_bucketed_topk(indexed, planes, q, 5).collect()]
    assert approx[0] == 5  # self lands in the query bucket


def test_validated_vectors_dimension_lint(spark):
    from py4j.protocol import Py4JJavaError

    from code_index_spark.operators.simsearch import validated_vectors

    good = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "id long, v array<double>"
    )
    assert validated_vectors(good, "v", 2).count() == 2
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0])], "id long, v array<double>"
    )
    try:
        validated_vectors(bad, "v", 2).select("v").collect()
        raise AssertionError("dimension mismatch must fail the job")
    except (Py4JJavaError, Exception) as e:
        assert "dimension mismatch" in str(e)


def test_reassemble_hits_carries_max_score(spark):
    from code_index_spark.operators.rank import reassemble_hits

    hits = spark.createDataFrame(
        [
            ("c1", 0, "chunk", "AB", 2, 2, "chunk_1_9", "h1_part2", 0.5),
            ("c1", 0, "chunk", "ZZ", 1, 2, "chunk_1_9", "h1_part1", 0.9),
            ("c2", 1, "chunk", "solo", None, None, None, "h2", 0.7),
        ],
        "conv_id string, turn_idx int, seg_type string, content string,"
        " split_index int, split_total int, parent_block_id string,"
        " segment_hash string, adjusted_score double",
    )
    out = {r["parent_block_id"]: r for r in reassemble_hits(hits).collect()}
    merged = out["chunk_1_9"]
    assert merged["content"] == "ZZAB"  # split_index order, not input order
    assert merged["adjusted_score"] == 0.9  # max over parts
    assert merged["n_parts"] == 2
    assert out["h2"]["n_parts"] == 1 and out["h2"]["adjusted_score"] == 0.7


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs, "text").collect()}
    assert out[0] == "en"
    assert out[4] == "es"
    assert out[5] == "und"


def test_quality_and_tokens(spark, docs):
    q = {r["doc_id"]: r for r in quality_features(docs, "text").collect()}
    assert q[0]["quality_score"] >= 0.9  # clean english sentence
    assert q[5]["n_words"] == 0 and q[5]["quality_score"] <= 0.2
    t = {r["doc_id"]: r for r in token_counts(docs, "text").collect()}
    assert t[0]["ws_tokens"] == 13
    assert t[5]["ws_tokens"] == 0


def test_repetition_features(spark):
    rows = [
        (0, "a a a a b"),        # dup 1-2/5=0.6; grams a-a ×3 of 4 → 0.75
        (1, "w1 w2 w3 w4"),      # all distinct; every gram unique → 1/3
        (2, ""),                 # empty → zeros
        (3, "x"),                # one word → no grams
        (4, "b a b a b a"),      # dup 2/3; grams b-a ×3 of 5 → 0.6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_features(df, "text").collect()}
    assert out[0]["dup_word_frac"] == 0.6 and out[0]["top_gram_frac"] == 0.75
    assert out[0]["repetitive"]
    assert out[1]["dup_word_frac"] == 0.0 and out[1]["top_gram_frac"] == 0.333333
    assert out[2]["n_words"] == 0 and not out[2]["repetitive"]
    assert out[3]["top_gram_frac"] == 0.0
    assert out[4]["dup_word_frac"] == 0.666667 and out[4]["top_gram_frac"] == 0.6
    # 3-gram variant: "a a a","a a a","a a b" → mode 2 of 3
    out3 = {r["doc_id"]: r["top_gram_frac"]
            for r in repetition_features(df, "text", gram_n=3).collect()}
    assert out3[0] == 0.666667 and out3[4] == 0.5


def test_decontaminate(spark):
    from code_index_spark.operators.decontam import decontaminate

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (10, "alpha beta gamma zzz"),            # shares 1 gram
            (11, "xx alpha beta gamma delta yy"),    # shares both
            (12, "nothing in common here at all"),   # clean
            (13, "beta gamma"),                      # too short for 3-grams
            (14, "alpha beta gamma alpha beta gamma"),  # dup gram counts once
        ],
        "doc_id long, text string",
    )
    out = decontaminate(tr, ev, "doc_id", "text", gram_n=3)
    got = {r["doc_id"]: r["n_shared_grams"] for r in out.collect()}
    assert got == {10: 1, 11: 2, 14: 1}
    # scale shape: the eval gram set must broadcast (corpus-side scan
    # is filtered map-side, no corpus shuffle before the match filter)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_features_and_redaction(spark):
    from code_index_spark.operators.pii import pii_features, redact_pii

    rows = [
        (0, "mail a.b-c+x@sub.example.org or b@x.io now"),   # 2 emails
        (1, "server 192.168.0.1 and 10.0.0.255 up"),         # 2 ips
        (2, "call 555-123-4567 or +4915112345678"),          # 2 phones
        (3, "555-123-4567@phone.example.com only"),          # email eats digits
        (4, "clean text with no sensitive content"),
        (5, "version 1.2.3 of 4 things"),                    # NOT an ip
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           redact_pii(pii_features(df, "text"), "text").collect()}
    assert (out[0]["n_emails"], out[0]["n_ipv4"], out[0]["n_phones"]) == (2, 0, 0)
    assert out[0]["redacted"] == "mail <EMAIL> or <EMAIL> now"
    assert (out[1]["n_ipv4"], out[1]["has_pii"]) == (2, True)
    assert out[1]["redacted"] == "server <IP> and <IP> up"
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted"] == "call <PHONE> or <PHONE>"
    # progressive redaction: the email is consumed BEFORE the phone
    # pattern sees its digit run — no double count
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 0)
    assert out[3]["redacted"] == "<EMAIL> only"
    assert not out[4]["has_pii"]
    assert out[5]["n_ipv4"] == 0 and not out[5]["has_pii"]


def test_mixture_sample(spark):
    from code_index_spark.operators.split import mixture_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("src"),
    )
    rates = {"s0": 3.0, "s1": 1.5, "s2": 0.5, "s3": 0.0}
    out = mixture_sample(df, "doc_id", "src", rates).cache()
    per = {r["src"]: r for r in out.groupBy("src").agg(
        F.count("*").alias("copies"),
        F.countDistinct("doc_id").alias("docs"),
        F.max("epoch").alias("max_epoch")).collect()}
    # whole-epoch strata are exact: every doc gets exactly 3 copies
    assert per["s0"]["copies"] == 1500 and per["s0"]["docs"] == 500
    assert per["s0"]["max_epoch"] == 2
    # fractional strata: every doc has 1 or 2 copies, rate ≈ 1.5
    assert per["s1"]["docs"] == 500 and 650 <= per["s1"]["copies"] <= 850
    assert 175 <= per["s2"]["copies"] <= 325 and per["s2"]["max_epoch"] == 0
    # rate 0 drops the stratum entirely
    assert "s3" not in per
    # deterministic: same draw after an arbitrary repartition
    again = mixture_sample(df.repartition(7), "doc_id", "src", rates)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_fingerprint_deterministic_and_discriminative(spark, docs):
    fp = {r["id"]: r["fingerprint"] for r in fingerprint(docs, "doc_id", "text").collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]
    assert fp[5] == 0


def test_curation_reason_priority(spark):
    """Composed curation labels (operators/curate.py): every reject
    branch fires on a constructed corpus, priority exact_dup >
    near_dup > low_quality > non_en > keep, min-id survivor policy.
    Covers the exact_dup branch the synthetic documents table cannot
    reach (it has no byte-identical dups)."""
    from code_index_spark.operators.curate import curation_labels, curation_summary

    good = "the quick brown fox and the lazy dog of the meadow in town"
    rows = [
        (0, good),                     # keep
        (1, good),                     # byte-identical → exact_dup (0 survives)
        (2, good + " tonight"),        # 3-gram jaccard 11/12 → near_dup
        (3, "x"),                      # low_quality
        (4, "el la de el la de uno dos tres cuatro cinco seis"),  # non_en
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = {r["doc_id"]: r["reason"] for r in curation_labels(docs).collect()}
    assert labels == {0: "keep", 1: "exact_dup", 2: "near_dup",
                      3: "low_quality", 4: "non_en"}
    summary = {r["reason"]: (r["n_docs"], r["n_chars"])
               for r in curation_summary(docs).collect()}
    assert summary["keep"] == (1, len(good))
    assert summary["exact_dup"] == (1, len(good))


def test_unigram_lm_scores(spark):
    """CCNet-style unigram LM scoring (operators/textstats.py):
    add-1-smoothed log-probs against a reference corpus, exact OOV
    integers, empty docs zeroed; expected values computed
    independently in Python."""
    import math

    from code_index_spark.operators.textstats import unigram_lm_scores

    ref = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the dog sat")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "the cat"),          # fully in-vocab
         (11, "the zebra"),        # one OOV
         (12, "")],                # empty
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           unigram_lm_scores(docs, ref, "doc_id", "text").collect()}
    # ref: T=6 tokens, V=4 vocab {the:2, cat:1, sat:2, dog:1}; denom=11
    lp = {w: math.log((c + 1) / 11.0) for w, c in
          {"the": 2, "cat": 1, "zebra": 0}.items()}
    assert (out[10]["n_tokens"], out[10]["n_oov"]) == (2, 0)
    assert out[10]["avg_logprob"] == round((lp["the"] + lp["cat"]) / 2, 4)
    assert (out[11]["n_tokens"], out[11]["n_oov"]) == (2, 1)
    assert out[11]["oov_frac"] == 0.5
    assert out[11]["avg_logprob"] == round((lp["the"] + lp["zebra"]) / 2, 4)
    assert (out[12]["n_tokens"], out[12]["n_oov"],
            out[12]["oov_frac"], out[12]["avg_logprob"]) == (0, 0, 0.0, 0.0)


def test_pack_sequences_invariants(spark):
    """GPT-style packing (operators/split.py): within every shard the
    doc spans are contiguous (no gaps, no overlaps — the concatenated
    stream), block ids follow integer division of the span, empty docs
    are zero-width with block_last == block_first, and the layout is a
    pure function of (id, salt) — identical across partitionings."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from code_index_spark.operators.split import pack_sequences

    rows = [(i, (i * 37) % 90) for i in range(40)] + [(100, 0), (101, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "doc_id", "n", budget=64, n_shards=4).collect()
    assert len(out) == len(rows)
    by_shard = defaultdict(list)
    for r in out:
        assert 0 <= r["shard"] < 4
        by_shard[r["shard"]].append(r)
    straddlers = 0
    for rs in by_shard.values():
        rs.sort(key=lambda r: r["tok_start"])
        offset = 0
        for r in rs:
            assert r["tok_start"] == offset        # contiguous stream
            offset += r["n_tokens"]
            assert r["block_first"] == r["tok_start"] // 64
            if r["n_tokens"] > 0:
                assert r["block_last"] == (r["tok_start"] + r["n_tokens"] - 1) // 64
                straddlers += r["block_last"] > r["block_first"]
            else:
                assert r["block_last"] == r["block_first"]  # zero-width
    assert straddlers > 0  # budget=64 with ~45-token docs must straddle
    again = pack_sequences(df.repartition(7), "doc_id", "n",
                           budget=64, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_duplicated_window_stats(spark):
    """Cross-doc duplicated windows (operators/dedupe.py): only
    windows shared ACROSS docs count (intra-doc repeats alone don't —
    that's repetition_features); every position of a duplicated window
    counts toward the fraction; docs shorter than the window emit zero
    windows and survive with frac 0."""
    from code_index_spark.operators.dedupe import duplicated_window_stats

    rows = [
        (0, "a b c d e"),        # windows: abc bcd cde — abc shared w/ 1
        (1, "x y a b c"),        # windows: xya yab abc — abc shared w/ 0
        (2, "p q r"),            # unique window, no partner
        (3, "m n"),              # too short: zero windows
        (4, "k k k k"),          # intra-doc repeat only: kkk twice, no
                                 # OTHER doc has it → not duplicated
        (5, "u v w u v w"),      # uvw at positions 1 and 4, shared w/ 6
        (6, "z z u v w"),        # zzu zuv uvw — uvw duplicated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                         r["dup_window_frac"])
           for r in duplicated_window_stats(docs, "doc_id", "text",
                                            window=3).collect()}
    assert out[0] == (3, 1, round(1 / 3, 6))
    assert out[1] == (3, 1, round(1 / 3, 6))
    assert out[2] == (1, 0, 0.0)
    assert out[3] == (0, 0, 0.0)
    assert out[4] == (2, 0, 0.0)
    assert out[5][0] == 4 and out[5][1] == 2  # BOTH uvw positions count
    assert out[6] == (3, 1, round(1 / 3, 6))


def test_prepare_corpus_composition(spark):
    """Composed corpus preparation (operators/prepare.py): every
    stage of curation → decontamination → PII scrub → split fires on
    a constructed corpus; contamination outranks the per-row filters
    (a contaminated low-quality doc labels 'contaminated') but not
    dedup; the split column equals hash_split's pure-function
    assignment; labels are partition-invariant."""
    from code_index_spark.operators.prepare import prepare_corpus
    from code_index_spark.operators.split import hash_split

    good = "the quick brown fox and the lazy dog of the meadow in town"
    piiish = ("ping the code and test the data of the trade in main then"
              " email me at user@example.org now")
    rows = [
        (0, good),                     # keep
        (1, good),                     # byte-identical → exact_dup
        (2, good + " tonight"),        # near_dup
        (3, "x"),                      # low_quality
        (4, "el la de el la de uno dos tres cuatro cinco seis"),  # non_en
        (5, "alpha beta gamma"),       # contaminated AND low-quality
        (6, piiish),                   # keep, has_pii
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = prepare_corpus(docs, ev, decontam_gram_n=3).collect()
    labels = {r["doc_id"]: r["reason"] for r in out}
    assert labels == {0: "keep", 1: "exact_dup", 2: "near_dup",
                      3: "low_quality", 4: "non_en", 5: "contaminated",
                      6: "keep"}
    pii = {r["doc_id"]: r["has_pii"] for r in out}
    assert pii[6] is True and pii[0] is False
    splits = {r["doc_id"]: r["split"] for r in out}
    expected = {r["doc_id"]: r["split"]
                for r in hash_split(docs, "doc_id").collect()}
    assert splits == expected
    again = prepare_corpus(docs.repartition(5), ev, decontam_gram_n=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hash_split_deterministic_and_partition_invariant(spark):
    """hash_split (operators/split.py): assignment is a pure function
    of (id, salt) — identical across partitionings and runs (the
    property randomSplit lacks), fractions honored, salt redraws,
    malformed fractions rejected."""
    import pytest as _pytest
    from collections import Counter

    from pyspark.sql import functions as F

    from code_index_spark.operators.split import hash_split

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df.repartition(13), "doc_id").collect()}
    assert a == b
    c = Counter(a.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert 0.03 < c["val"] / 2000 < 0.07
    assert 0.03 < c["test"] / 2000 < 0.07
    redrawn = {r["doc_id"]: r["split"]
               for r in hash_split(df, "doc_id", salt="v2").collect()}
    assert redrawn != a  # a new salt is a new draw
    with _pytest.raises(ValueError):
        hash_split(df, "doc_id", fractions={"train": 0.5, "val": 0.2})


def _expected_buckets(rows, head_frac, tail_frac):
    """Independent reimplementation: rank by (score DESC, id ASC),
    head iff rank <= ceil(head_frac*n), tail iff rank > n - ceil(
    tail_frac*n), head wins overlaps."""
    import math

    out = {}
    by_grp = {}
    for i, g, s in rows:
        by_grp.setdefault(g, []).append((i, s))
    for g, members in by_grp.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        n = len(members)
        n_head = math.ceil(head_frac * n - 1e-12)
        n_tail = math.ceil(tail_frac * n - 1e-12)
        for rank, (i, _s) in enumerate(members, start=1):
            if rank <= n_head:
                out[i] = "head"
            elif rank > n - n_tail:
                out[i] = "tail"
            else:
                out[i] = "middle"
    return out


@pytest.fixture(scope="module")
def scored_groups(spark):
    # two group sizes, planted score TIES (ids 20/21/22 share a score)
    # so the id tie-break is actually exercised
    rows = [
        (10, "a", -1.0), (11, "a", -2.0), (12, "a", -3.0),
        (20, "b", -1.5), (21, "b", -1.5), (22, "b", -1.5),
        (23, "b", -4.0), (24, "b", -0.5), (25, "b", -9.0),
        (26, "b", -3.5),
        (30, "c", -2.0),                    # 1-doc group → head
    ]
    return rows, spark.createDataFrame(
        rows, "doc_id long, source string, avg_logprob double"
    )


def test_perplexity_buckets_exact(spark, scored_groups):
    """CCNet head/middle/tail bucketing (operators/textstats.py):
    integer-threshold rank rule matches an independent ceil-based
    reimplementation, ties broken by id, 1-doc groups are head."""
    from code_index_spark.operators.textstats import perplexity_buckets

    rows, df = scored_groups
    for hf, tf in [(0.3, 0.3), (1 / 3, 1 / 3), (0.5, 0.5), (0.0, 1.0)]:
        got = {r["doc_id"]: r["ppl_bucket"]
               for r in perplexity_buckets(df, "source", head_frac=hf,
                                           tail_frac=tf).collect()}
        assert got == _expected_buckets(rows, hf, tf), (hf, tf)
    with pytest.raises(ValueError):
        perplexity_buckets(df, "source", head_frac=0.7, tail_frac=0.5)


def test_bucket_cutoffs_parity(spark, scored_groups):
    """The broadcast-cutoff scale path reproduces the exact rank path
    at sample_frac=1.0 — ties, 1-doc groups, and the all-tail
    (head_frac=0) degenerate case included; groups absent from the
    cutoff table fall to middle."""
    from code_index_spark.operators.textstats import (
        bucket_by_cutoffs,
        bucket_cutoffs,
        perplexity_buckets,
    )

    _rows, df = scored_groups
    for hf, tf in [(0.3, 0.3), (0.5, 0.5), (0.0, 1.0)]:
        exact = {r["doc_id"]: r["ppl_bucket"]
                 for r in perplexity_buckets(df, "source", head_frac=hf,
                                             tail_frac=tf).collect()}
        cuts = bucket_cutoffs(df, "source", head_frac=hf, tail_frac=tf)
        via = {r["doc_id"]: r["ppl_bucket"]
               for r in bucket_by_cutoffs(df, cuts, "source").collect()}
        assert via == exact, (hf, tf)
    # cutoffs computed on groups a/b only: group c unseen → middle
    cuts_ab = bucket_cutoffs(df.filter(F.col("source") != "c"), "source")
    via = {r["doc_id"]: r["ppl_bucket"]
           for r in bucket_by_cutoffs(df, cuts_ab, "source").collect()}
    assert via[30] == "middle"
    # sampling is deterministic: same salt → same cutoffs row set
    a = bucket_cutoffs(df, "source", sample_frac=0.6).collect()
    b = bucket_cutoffs(df, "source", sample_frac=0.6).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_semantic_dedupe(spark):
    """SemDeDup-style pruning (operators/dedupe.py): near-identical
    embeddings in the same sign cell are grouped, min-id survives,
    opposite-sign vectors never pair (different cell)."""
    from code_index_spark.operators.dedupe import semantic_dedupe

    rows = [
        (0, [1.0, 2.0, 0.5]),
        (1, [1.0, 2.0, 0.5]),      # identical to 0 → pruned
        (2, [1.01, 2.0, 0.5]),     # near-identical to 0/1 → pruned
        (3, [-1.0, -2.0, -0.5]),   # opposite cell, never compared
        (4, [2.0, -1.0, 0.1]),     # same-cell-as-nobody similar
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r["doc_id"]: r for r in
           semantic_dedupe(df, "vec_id", "v", threshold=0.95,
                           sign_coords=3).collect()}
    assert not out[0]["is_semantic_dup"] and out[0]["n_dup_neighbors"] == 2
    assert out[1]["is_semantic_dup"] and out[2]["is_semantic_dup"]
    assert not out[3]["is_semantic_dup"] and out[3]["n_dup_neighbors"] == 0
    assert not out[4]["is_semantic_dup"]
    # cells: 0/1/2 share a cell, 3 is in the all-negative cell
    assert out[0]["cell"] == out[2]["cell"] != out[3]["cell"]


def test_remove_duplicated_passages(spark):
    """Exact-substring removal (operators/dedupe.py): the global first
    (min doc_id, min position) occurrence of a duplicated window
    survives, every other occurrence's span is cut, overlapping cut
    spans merge at the token level, and intra-doc repeats keep only
    their first position."""
    from code_index_spark.operators.dedupe import remove_duplicated_passages

    rows = [
        (0, "a b c d e"),      # owns "a b c", "b c d"; "c d e" unique
        (1, "x y a b c d"),    # abc@3 + bcd@4 duplicated → cut 3..6
        (2, "k k k k k"),      # kkk@1 owns; @2,@3 cut → tokens 2..5 gone
        (3, "m n"),            # shorter than window: untouched
        (4, ""),               # empty stays empty
        (5, "a b c"),          # whole doc is doc0's window → emptied
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_duplicated_passages(docs, "doc_id", "text",
                                      window=3).collect()}
    assert out[0]["n_removed"] == 0 and out[0]["cleaned_text"] == "a b c d e"
    assert out[1]["cleaned_text"] == "x y" and out[1]["n_removed"] == 4
    assert out[2]["cleaned_text"] == "k" and out[2]["n_removed"] == 4
    assert out[3]["cleaned_text"] == "m n" and out[3]["n_removed"] == 0
    assert out[4]["n_tokens"] == 0 and out[4]["cleaned_text"] == ""
    assert out[5]["cleaned_text"] == "" and out[5]["removed_frac"] == 1.0


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR importance weights (operators/textstats.py): docs sharing
    the target slice's bigrams outweigh off-target docs; gram-less
    docs get weight 0; the Gumbel key is a deterministic pure function
    of (salt, id)."""
    from code_index_spark.operators.textstats import dsir_weights

    on = "alpha beta gamma delta alpha beta"
    off = "zeta eta theta iota kappa mu"
    rows = [(i, on) for i in range(4)] + \
           [(i, off) for i in range(4, 8)] + [(8, ""), (9, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id") < 2)  # target looks like `on`
    out = {r["doc_id"]: r for r in
           dsir_weights(docs, target, "doc_id", "text").collect()}
    assert all(out[i]["weight_milli"] > out[j]["weight_milli"]
               for i in range(4) for j in range(4, 8))
    for i in (8, 9):  # no bigrams → zero weight, Gumbel-only key
        assert out[i]["n_grams"] == 0 and out[i]["weight_milli"] == 0
        assert out[i]["sample_key_milli"] == out[i]["gumbel_milli"]
    again = {r["doc_id"]: r["gumbel_milli"] for r in
             dsir_weights(docs, target, "doc_id", "text").collect()}
    assert again == {k: v["gumbel_milli"] for k, v in out.items()}


def test_near_dup_clusters_transitive_chain(spark):
    """Cluster assignment (operators/dedupe.py): a chain A~B~C merges
    into ONE cluster labeled min-id even when A~C alone is below
    threshold — the under-merge pairwise survivor policies miss;
    singletons label themselves with size 1."""
    from code_index_spark.operators.dedupe import near_dup_clusters

    base = ("w%d " * 30).strip()
    a = base % tuple(range(30))
    b = a + " tailb tailc taild"          # ~a
    c = b + " more1 more2 more3"          # ~b, farther from a
    rows = [(10, a), (11, b), (12, c),
            (13, "totally different content tokens here today")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           near_dup_clusters(docs, "doc_id", "text", n=3,
                             threshold=0.8).collect()}
    assert out[10]["cluster_id"] == out[11]["cluster_id"] \
        == out[12]["cluster_id"] == 10
    assert out[10]["cluster_size"] == 3
    assert out[13]["cluster_id"] == 13 and out[13]["cluster_size"] == 1


def test_cross_source_overlap(spark):
    """Source-overlap matrix (operators/dedupe.py): containment is
    directional (small source sharing everything vs big source sharing
    a sliver), zero-overlap pairs keep a row, short docs emit no
    windows."""
    from code_index_spark.operators.dedupe import cross_source_overlap

    rows = [
        (0, "a b c d e", "wiki"),    # windows: abc bcd cde
        (1, "a b c x y z", "crawl"), # abc shared with wiki; xyz/bcx/cxy own
        (2, "p q r s", "books"),     # pqr qrs — no overlap with anyone
        (3, "m n", "books"),         # too short, no windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r for r in
           cross_source_overlap(docs, "doc_id", "text", "source",
                                window=3).collect()}
    assert len(out) == 6  # 3 sources, all ordered pairs
    assert out[("wiki", "crawl")]["n_shared"] == 1
    assert out[("wiki", "crawl")]["containment"] == round(1 / 3, 6)
    assert out[("crawl", "wiki")]["containment"] == 0.25  # 1 of 4
    assert out[("books", "wiki")]["n_shared"] == 0
    assert out[("books", "crawl")]["n_windows_a"] == 2


def test_snapshot_diff(spark):
    """Corpus diff (operators/prepare.py): full-outer on ids with
    per-side hashes — added/removed/changed/unchanged routed exactly,
    hashes NULL on the absent side."""
    from code_index_spark.operators.prepare import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta edited"), (4, "delta")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           snapshot_diff(old, new, "doc_id", "text").collect()}
    assert out[1]["status"] == "unchanged"
    assert out[2]["status"] == "changed" and \
        out[2]["old_hash"] != out[2]["new_hash"]
    assert out[3]["status"] == "removed" and out[3]["new_hash"] is None
    assert out[4]["status"] == "added" and out[4]["old_hash"] is None


def test_decontaminate_bloom_equals_exact(spark):
    """Bloom-prefiltered decontamination (operators/decontam.py) must
    return exactly decontaminate()'s output — the sketch prunes, the
    exact rescore decides — including at a deliberately TINY filter
    (64 bits, saturated) where nearly every probe is a false positive
    and the rescore does all the work."""
    from code_index_spark.operators.decontam import (
        decontaminate,
        decontaminate_bloom,
    )

    rows = [(i, f"w{i} x{i} y{i} z{i} shared{i % 3} tail{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    want = sorted(map(tuple, decontaminate(tr, ev, "doc_id", "text",
                                           gram_n=2).collect()))
    for n_bits in (1 << 16, 64):
        got = sorted(map(tuple, decontaminate_bloom(
            tr, ev, "doc_id", "text", gram_n=2, n_bits=n_bits).collect()))
        assert got == want, n_bits


def test_seed_classifier_separates_planted_classes(spark):
    """Seed classifier (operators/textstats.py): NB logits trained on
    two seed slices separate held-out docs of each class; byte-copies
    score identically; empty text scores exactly the prior; a doc of
    only unseen grams gets prior + n_feats·w_unseen."""
    from code_index_spark.operators.textstats import seed_classifier

    good = "science history prose essay analysis evidence source method"
    bad = "click free buy offer now winner prize claim"
    rows = (
        [(i, good) for i in range(4)]
        + [(i, bad) for i in range(4, 8)]
        + [(8, ""), (9, "zzz qqq vvv")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = docs.filter(F.col("doc_id").isin(0, 1))   # seed ⊂ class
    neg = docs.filter(F.col("doc_id").isin(4, 5))
    out = {r["doc_id"]: r for r in
           seed_classifier(docs, pos, neg, "doc_id", "text",
                           n_buckets=512).collect()}
    # held-out docs 2,3 / 6,7 classified by seeds they were not in
    assert all(out[i]["pred_pos"] for i in range(4))
    assert all(not out[i]["pred_pos"] for i in range(4, 8))
    assert out[0]["logit_milli"] == out[1]["logit_milli"] \
        == out[2]["logit_milli"]
    prior = out[8]["logit_milli"]  # empty: no feats, prior only
    assert out[8]["n_feats"] == 0
    # all-unseen doc: 3 unigrams + 2 bigrams, each at w_unseen
    assert out[9]["n_feats"] == 5
    assert (out[9]["logit_milli"] - prior) % 5 == 0


def test_shuffle_shards_deterministic_layout(spark):
    """Shard shuffle (operators/prepare.py): positions are dense
    0..n-1 per shard, interleave_key is unique, the layout is a pure
    function of (salt, id) — identical across runs, different under a
    new salt (epoch reshuffle)."""
    from code_index_spark.operators.prepare import shuffle_shards

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    a = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
        assert r["interleave_key"] == r["pos"] * 8 + r["shard"]
    assert set(by_shard) <= set(range(8))
    for shard_positions in by_shard.values():
        assert sorted(shard_positions) == list(range(len(shard_positions)))
    assert len({r["interleave_key"] for r in a}) == 200
    b = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = {r["doc_id"]: (r["shard"], r["pos"]) for r in
         shuffle_shards(docs, "doc_id", n_shards=8, salt="epoch2").collect()}
    assert any(c[r["doc_id"]] != (r["shard"], r["pos"]) for r in a)
