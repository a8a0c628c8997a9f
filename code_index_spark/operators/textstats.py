"""Text analysis operators for training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting.
Pure Catalyst end to end (WholeStageCodegen, no Python workers); every
operator including the winnowing fingerprint is oracle-expressible in
DuckDB — the fingerprint uses md5 window hashes shared with its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic (deterministic, SQL-expressible)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Predicted language by stopword-marker vote; 'und' if no marker.
    Ties broken by fixed language order (deterministic).

    The vote is ONE array_max over (hits, priority, lang) structs —
    struct comparison is lexicographic, and priority = #langs − index
    makes the earliest language win ties, exactly the old iterative
    argmax. The previous formulation chained nested CASE WHENs whose
    inlining duplicated each language's hit expression (split + 3
    array_contains) up to 2^#langs times, and codegen subexpression
    elimination cannot rescue subtrees sitting in conditional CASE
    branches — measured 18.9 s → 4.3 s on the same 600k-doc corpus
    (bench/curate_scale.py; quality_features, the same scan shape
    without the nesting, runs 1.7 s)."""
    toks = F.split(F.lower(F.col(text_col)), "\\s+")
    n_langs = len(LANG_MARKERS)
    entries = []
    for i, (lang, words) in enumerate(LANG_MARKERS.items()):
        hits = F.lit(0)
        for w in words:
            hits = hits + F.when(F.array_contains(toks, w), 1).otherwise(0)
        entries.append(F.struct(
            hits.alias("hits"),
            F.lit(n_langs - i).alias("prio"),  # insertion order = tie-break
            F.lit(lang).alias("lang"),
        ))
    # two-step projection: `pred` references the vote twice (condition
    # + value branch), and a conditional-branch copy is invisible to
    # codegen subexpression elimination — keeping the vote as its own
    # column makes CollapseProject leave it un-inlined (duplicated
    # non-cheap refs block the collapse), so it is computed once
    best = F.col("_lang_best")
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return (
        df.withColumn("_lang_best", F.array_max(F.array(*entries)))
        .withColumn("pred_lang", pred)
        .drop("_lang_best")
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length / token / punctuation / stopword-ratio features and a
    composite quality score in [0,1] — the training-data filter."""
    t = F.col(text_col)
    words = F.split(F.trim(t), "\\s+")
    n_chars = F.length(t)
    n_words = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(words))
    avg_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[.,;:!?]"), 0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, lambda w: F.lower(w)),
            F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "a", "in")]),
        )
    )
    score = (
        F.when((n_words >= 5) & (n_words <= 100000), 0.4).otherwise(0.0)
        + F.when((avg_word_len >= 2.0) & (avg_word_len <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 0.1).otherwise(0.0)
        + F.when(stop_hits > 0, 0.2).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("avg_word_len", F.round(avg_word_len, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_hits", stop_hits)
        .withColumn("quality_score", F.round(score, 2))
    )


# Gopher-style repetition-filter thresholds (Rae et al. 2021, table A1
# ballpark): docs above either are flagged `repetitive`.
DUP_WORD_FRAC_MAX = 0.5
TOP_GRAM_FRAC_MAX = 0.2


def repetition_features(df: DataFrame, text_col: str, gram_n: int = 2) -> DataFrame:
    """Gopher-style repetition quality signals per document:

      dup_word_frac  — fraction of word occurrences that repeat an
                       earlier word (1 − distinct/total);
      top_gram_frac  — fraction of all `gram_n`-grams accounted for by
                       the single most frequent gram;
      repetitive     — either fraction above its threshold.

    Pure Catalyst, ZERO shuffle: the per-doc gram mode is computed as
    the longest equal-adjacent run of the SORTED gram array via one
    `aggregate` fold — the naive formulation (explode grams → groupBy
    (doc, gram) → max(count)) shuffles the full gram stream, ~n_words
    rows per doc, which at 100 TB is a corpus-sized exchange for a
    per-row statistic. The DuckDB oracle uses the explode+group
    formulation (same exact integers), so the driver row also checks
    the fold against an independent derivation. Reference parity:
    per-block quality gating, code-index
    file_processing_helpers.py:55-57 (min_content_length gates before
    indexing); the repetition signals extend that gate family with the
    standard pretraining-corpus filters."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    empty = F.length(F.trim(t)) == 0
    n_words = F.when(empty, 0).otherwise(F.size(words))
    n_distinct = F.when(empty, 0).otherwise(F.size(F.array_distinct(words)))
    dup_word_frac = F.when(
        n_words > 0, F.lit(1.0) - n_distinct / n_words
    ).otherwise(F.lit(0.0))
    # chained-zip_with gram build (measured 8.1 s → 1.5 s over the
    # transform+slice form on 17.4M grams = 600k docs × 29)
    from ..functions.textfns import word_grams

    grams = word_grams(words, gram_n)
    # longest equal-adjacent run over the sorted grams == mode count
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(F.array_sort(grams), zero, _merge, lambda acc: acc["best"])
    n_grams = F.when(n_words >= gram_n, n_words - gram_n + 1).otherwise(F.lit(0))
    top_gram_frac = F.when(n_grams > 0, best / n_grams).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("dup_word_frac", F.round(dup_word_frac, 6))
        .withColumn("top_gram_frac", F.round(top_gram_frac, 6))
    )
    return out.withColumn(
        "repetitive",
        (F.col("dup_word_frac") > DUP_WORD_FRAC_MAX)
        | (F.col("top_gram_frac") > TOP_GRAM_FRAC_MAX),
    )


def unigram_lm_scores(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CCNet-style language-model quality scoring with a unigram LM:
    fit word counts on a REFERENCE corpus (CCNet fits KenLM on
    Wikipedia and scores CommonCrawl by perplexity; the unigram LM is
    the deterministic, engine-portable member of that family), then
    score every doc in `df`:

      n_tokens     — scored word count
      n_oov        — words absent from the reference vocabulary
      oov_frac     — n_oov / n_tokens
      avg_logprob  — mean add-1-smoothed log-probability,
                     ln((c_w + 1) / (T + V + 1)), c_w = ref count,
                     T = ref token total, V = ref vocab size;
                     higher = more reference-like (the filter
                     thresholds on this, low = gibberish/OOV-heavy)

    Scale shape: the reference LM is a vocab-scale (word, count)
    table; like decontaminate's eval grams it is bounded by
    construction (a curated reference corpus), so it broadcasts — the
    scored corpus then never shuffles ON WORDS; the only corpus-sized
    exchange is the per-doc aggregation (map-side partial). The (T, V)
    totals ride a 1-row broadcast cross join — never a driver collect.

    Float note: each token's log-prob is the same IEEE double in Spark
    and DuckDB (identical rational inputs); only the per-doc summation
    order differs, so avg_logprob is rounded to 4 decimals on both
    sides (the tf-idf cosine oracle discipline).

    Reference parity: code-index gates blocks on heuristic quality
    (file_processing_helpers.py:55-57); LM scoring is the
    corpus-trained generalization of that gate."""
    t = F.lower(F.trim(F.col(text_col)))
    words = F.split(t, r"\s+")
    nonempty = F.length(F.trim(F.col(text_col))) > 0

    ref_tok = (
        ref_df.filter(nonempty)
        .select(F.explode(words).alias("w"))
    )
    lm = ref_tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = lm.agg(
        F.sum("c").cast("long").alias("t"), F.count("*").alias("v")
    )
    tok = (
        df.filter(nonempty)
        .select(F.col(id_col).alias("doc_id"), F.explode(words).alias("w"))
    )
    j = tok.join(F.broadcast(lm), "w", "left").crossJoin(F.broadcast(tot))
    lp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
        / (F.col("t") + F.col("v") + F.lit(1.0))
    )
    oov = F.when(F.col("c").isNull(), 1).otherwise(0)
    per = j.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.sum(oov).cast("int").alias("n_oov"),
        F.round(F.sum(lp) / F.count("*"), 4).alias("avg_logprob"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.coalesce(F.col("n_oov"), F.lit(0))
                   / F.col("n_tokens"))
            .otherwise(F.lit(0.0)), 6,
        ).alias("oov_frac"),
        F.coalesce(F.col("avg_logprob"), F.lit(0.0)).alias("avg_logprob"),
    )


# BPE-ish token estimator: word pieces ≈ runs of letters / digits /
# single punctuation, the standard cheap proxy for subword counts.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(F.split(F.trim(t), "\\s+")))
    bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_REGEX), 0))
    return df.withColumn("ws_tokens", ws).withColumn("bpe_tokens", bpe)


def _hashed_features(side: DataFrame, text_col: str, gram_ns: tuple[int, ...],
                     n_buckets: int, id_col: str | None = None) -> DataFrame:
    """(doc_id, b) rows (just (b) when id_col is None), one per feature
    of each non-blank text: every lowercased word n-gram, n in gram_ns,
    hashed into bucket b = hash60(gram) % n_buckets. The feature scan
    shared by dsir_weights and seed_classifier."""
    from ..functions.textfns import hash60, word_grams

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = [word_grams(words, n) for n in gram_ns]
    feats = grams[0] if len(grams) == 1 else F.concat(*grams)
    ids = [] if id_col is None else [F.col(id_col).alias("doc_id")]
    return (
        side.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(*ids, F.explode(feats).alias("g"))
        .withColumn("b", hash60(F.col("g")) % n_buckets)
        .drop("g")
    )


def llr_milli(a, b, total_a, total_b, n_buckets: int):
    """Add-1-smoothed log-likelihood ratio of bucket count `a` (of a
    distribution totalling `total_a`) vs `b` (of `total_b`), in integer
    millinats: round(1000·ln((a+1)(total_b+K) / ((b+1)(total_a+K)))).
    The ln reads a double built from exact integer products, so the
    value is identical in Spark and DuckDB. DSIR's λ and the seed
    classifier's weights are this one expression."""
    return F.round(
        1000
        * F.log(
            ((a + 1) * (total_b + n_buckets)).cast("double")
            / ((b + 1) * (total_a + n_buckets)).cast("double")
        )
    ).cast("long")


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    gram_n: int = 2,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc
    in `df` by how much more likely its hashed n-gram features are
    under a TARGET corpus (the curated slice you want more of) than
    under the raw corpus itself, then attach a Gumbel key so top-k by
    `sample_key_milli` IS importance resampling (the Gumbel-top-k
    trick: argmax of weight + Gumbel ~ sampling ∝ exp(weight)).

      n_grams          — hashed `gram_n`-gram feature count
      weight_milli     — Σ_grams λ(bucket(gram)) in integer millinats,
                         λ(b) = ln((c_t(b)+1)(T_r+K) / ((c_r(b)+1)(T_t+K)))
                         (add-1-smoothed log-likelihood ratio of the
                         target vs raw hashed-feature distributions)
      gumbel_milli     — deterministic per-doc Gumbel noise in milli
                         units, -ln(-ln(u)) with u from a 52-bit md5
                         hash of (salt, id) — a pure function of the
                         id, reproducible across runs and engines
      sample_key_milli — weight_milli + gumbel_milli; take the top-k

    Exactness discipline: λ is quantized to INTEGER millinats at the
    bucket table (one ln per bucket on a double built from exact
    integer products — identical in Spark and DuckDB), so the per-doc
    sum is order-free integer arithmetic; the only other float op is
    the per-doc double-ln of an exactly-representable uniform
    (functions/textfns.hash52). No float summation anywhere — the
    drift that makes naive per-gram log-prob sums un-oracle-able.

    Scale shape: features are hashed into `n_buckets` buckets, so both
    distribution tables are K rows regardless of corpus size — they
    broadcast. The corpus is scanned once per side into (doc, bucket)
    longs; the per-doc weight aggregation is map-side partial. Totals
    ride 1-row broadcast cross joins, never a collect.

    Reference parity: code-index has no data-selection stage (its
    corpus is a workspace); DSIR is the standard pretraining-pipeline
    member of this operator family."""
    from ..functions.textfns import hash52

    K = n_buckets
    db = _hashed_features(df, text_col, (gram_n,), K, id_col)
    tc = _hashed_features(target_df, text_col, (gram_n,), K).groupBy("b").agg(
        F.count("*").alias("ct"))
    rc = db.groupBy("b").agg(F.count("*").alias("cr"))
    # totals: two 1-row aggs joined — never a driver collect
    tt = tc.agg(F.sum("ct").cast("long").alias("tt"))
    tr = rc.agg(F.sum("cr").cast("long").alias("tr"))
    lam = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "b",
            llr_milli(F.coalesce(F.col("ct"), F.lit(0)), F.col("cr"),
                      F.col("tt"), F.col("tr"), K).alias("lam_milli"),
        )
    )
    per = db.join(F.broadcast(lam), "b").groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_grams"),
        F.sum("lam_milli").cast("long").alias("weight_milli"),
    )
    u = (hash52(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
         + F.lit(0.5)) / F.lit(float(2 ** 52))
    ids = df.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("weight_milli"), F.lit(0).cast("long"))
             .alias("weight_milli"),
            F.round(1000 * -F.log(-F.log(u))).cast("long")
             .alias("gumbel_milli"),
        )
        .withColumn(
            "sample_key_milli",
            F.col("weight_milli") + F.col("gumbel_milli"),
        )
    )


def seed_classifier(
    df: DataFrame,
    pos_df: DataFrame,
    neg_df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """fastText-style model-based quality filter (the FineWeb-Edu /
    DCLM 'classifier filtering' stage): train a linear classifier over
    hashed unigram+bigram features from two labeled SEED slices (docs
    you want vs docs you don't), then score every doc in `df` with an
    integer-millinat logit and a hard keep decision.

    Training is closed-form multinomial Naive Bayes — per-bucket
    add-1-smoothed log-likelihood ratios of the positive vs negative
    seed feature distributions plus a seed-prior offset — so the whole
    fit is two grouped counts, no gradient loop, no Python:

      w(b)        = round(1000·ln((cp(b)+1)(TN+K) / ((cn(b)+1)(TP+K))))
      prior_milli = round(1000·ln(Np / Nn))
      logit_milli = prior_milli + Σ_feats coalesce(w(bucket), w∅)

    where w∅ is the unseen-bucket weight (cp=cn=0) so scoring a doc
    whose n-grams never appeared in either seed is still defined.
    Everything emitted is an integer (weights quantized at the K-row
    table exactly like dsir_weights' λ) or a boolean, so the operator
    keeps a full DuckDB value-hash oracle — the usual float-summation
    drift never enters.

    Output: (doc_id, n_feats, logit_milli, pred_pos) with
    pred_pos = logit_milli >= 0 (the keep decision at the NB decision
    boundary; shift the threshold downstream for precision/recall
    trades). Both seed slices must contain at least one non-empty doc
    (an empty class has no prior — ln(0) nulls every logit).

    Scale shape: features hash into `n_buckets` buckets, so the weight
    table is K rows regardless of seed size and broadcasts. Each
    corpus is scanned once into (doc, bucket) longs; the per-doc logit
    aggregation is map-side partial; totals and the prior ride 1-row
    broadcast cross joins, never a collect.

    Reference parity: code-index has no model-based filter (its corpus
    is a trusted workspace); this is the standard classifier-filtering
    member of the training-data operator family, next to dsir_weights
    (unsupervised importance weights) and quality_features (rule
    scores)."""
    K = n_buckets
    nonempty = F.length(F.trim(F.col(text_col))) > 0
    # each count table is ≤K rows but feeds TWO consumers (the weight
    # table and its total); materializing it runs the seed feature-hash
    # scan once instead of twice
    pc = _hashed_features(pos_df, text_col, (1, 2), K).groupBy("b").agg(
        F.count("*").alias("cp")).localCheckpoint(eager=True)
    nc = _hashed_features(neg_df, text_col, (1, 2), K).groupBy("b").agg(
        F.count("*").alias("cn")).localCheckpoint(eager=True)
    tp = pc.agg(F.sum("cp").cast("long").alias("tp"))
    tn = nc.agg(F.sum("cn").cast("long").alias("tn"))
    np_ = pos_df.filter(nonempty).agg(
        F.count("*").cast("long").alias("np"))
    nn_ = neg_df.filter(nonempty).agg(
        F.count("*").cast("long").alias("nn"))

    wtab = (
        pc.join(nc, "b", "full")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tn))
        .select(
            "b",
            llr_milli(F.coalesce(F.col("cp"), F.lit(0)),
                      F.coalesce(F.col("cn"), F.lit(0)),
                      F.col("tp"), F.col("tn"), K).alias("w_milli"),
        )
    )
    # scalars every scored row needs: the unseen-bucket weight and the
    # seed prior — one broadcast row, never a collect
    consts = (
        tp.crossJoin(tn).crossJoin(np_).crossJoin(nn_)
        .select(
            llr_milli(F.lit(0), F.lit(0), F.col("tp"), F.col("tn"), K)
            .alias("w_unseen_milli"),
            F.round(
                1000 * F.log(F.col("np").cast("double")
                             / F.col("nn").cast("double"))
            ).cast("long").alias("prior_milli"),
        )
    )
    per = (
        _hashed_features(df, text_col, (1, 2), K, id_col)
        .join(F.broadcast(wtab), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_feats"),
            F.sum(F.coalesce(F.col("w_milli"), F.lit(0).cast("long")))
             .cast("long").alias("w_sum"),
            F.sum(F.when(F.col("w_milli").isNull(), 1).otherwise(0))
             .cast("long").alias("n_unseen"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(per, "doc_id", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            (
                F.col("prior_milli")
                + F.coalesce(F.col("w_sum"), F.lit(0).cast("long"))
                + F.coalesce(F.col("n_unseen"), F.lit(0).cast("long"))
                * F.col("w_unseen_milli")
            ).alias("logit_milli"),
        )
        .withColumn("pred_pos", F.col("logit_milli") >= 0)
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, window: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min of 60-bit md5 hashes
    over sliding `window`-word shingles. Pure Catalyst — the window
    hash is md5 of the space-joined shingle, so the exact computation
    is expressible in DuckDB (fingerprint_sql below) and the operator
    keeps a full value-hash oracle. Empty/whitespace-only text → 0.

    Trade-off vs a rolling polynomial hash: each word is hashed
    ~window times instead of once (still linear in text bytes × a
    small constant), in exchange for no Python workers and engine-
    portable values; 61-bit modular arithmetic overflows BIGINT in
    ANSI mode, so a rolling formulation cannot be shared with SQL."""
    from ..functions.textfns import hash60
    from .dedupe import word_ngrams

    t = F.col(text_col)
    # a text of fewer than `window` words is one whole-text window
    # (word_ngrams' rule); the min ignores repeated windows
    fp = F.when(F.length(F.trim(t)) == 0, F.lit(0).cast("long")).otherwise(
        F.array_min(F.transform(word_ngrams(t, window), hash60))
    )
    return df.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))


def fingerprint_sql(window: int = 8, table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of fingerprint() — generated from the same constants."""
    h = "CAST(('0x' || substr(md5(array_to_string(words[i:i+k-1], ' ')), 1, 15)) AS BIGINT)"
    return (
        f"WITH w AS (SELECT {id_col} AS id, trim({text_col}) AS t,"
        f" string_split_regex(trim({text_col}), '\\s+') AS words FROM {table}),"
        f" kk AS (SELECT id, t, words, least({window}, len(words)) AS k FROM w) "
        f"SELECT id, CASE WHEN length(t) = 0 THEN 0 ELSE"
        f" list_min([{h} for i in range(1, len(words) - k + 2)]) END AS fingerprint "
        f"FROM kk ORDER BY id"
    )


# ------------------------------------------------- perplexity buckets
# CCNet's head/middle/tail split works in 10^-4 resolution like
# split.hash_split's bucket space: thresholds are INTEGERS, so the
# bucket rule is pure integer arithmetic on (rank, group size) and
# replicates exactly in DuckDB.
_PCT = 10_000


def _bucket_thresholds(head_frac: float, tail_frac: float) -> tuple[int, int]:
    if not (0.0 <= head_frac and 0.0 <= tail_frac and head_frac + tail_frac <= 1.0):
        raise ValueError(
            f"head/tail fractions must be >= 0 and sum <= 1, got "
            f"({head_frac}, {tail_frac})"
        )
    return int(round(head_frac * _PCT)), int(round(tail_frac * _PCT))


def perplexity_buckets(
    scores: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    score_col: str = "avg_logprob",
    head_frac: float = 0.3,
    tail_frac: float = 0.3,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: within each group
    (language in CCNet, source/domain in a mixture pipeline) rank
    documents by LM score and label the best `head_frac` of the group
    'head', the worst `tail_frac` 'tail', 'middle' between — CCNet
    (Wenzek et al. 2019) keeps head+middle and drops tail; the
    upstream score is unigram_lm_scores' avg_logprob (higher = more
    reference-like, so DESC rank puts the head first).

    Exactness: rank = row_number over (score DESC, id ASC) — the id
    tie-break makes the order total, and the bucket rule is integer
    arithmetic only ((rank-1)·10^4 < head_thr·n, the ceil-free form of
    rank <= ceil(frac·n)), so the assignment value-hash-replicates in
    DuckDB (driver row `lm_ppl_buckets`). A 1-doc group is 'head'
    (head wins where the fractions overlap).

    Scale: ONE shuffle on the group key; the per-group rank is
    sequential WITHIN a group, which is fine when groups are languages
    or sources (bounded count, each group streams through one window)
    but serializes on a single giant group — there, use the
    bucket_cutoffs/bucket_by_cutoffs pair below (sampled cutoffs +
    broadcast compare, the shape CCNet itself uses: percentile
    thresholds come from a sample of the corpus, not a global sort).

    Reference parity: code-index gates content on per-block quality
    thresholds (file_processing_helpers.py:55-57); group-relative
    bucketing is the corpus-calibrated version of that gate."""
    from pyspark.sql import Window

    head_thr, tail_thr = _bucket_thresholds(head_frac, tail_frac)
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    rn = F.row_number().over(w).cast("long")
    n = F.count("*").over(Window.partitionBy(group_col)).cast("long")
    bucket = (
        F.when((rn - 1) * _PCT < head_thr * n, "head")
        .when((n - rn) * _PCT < tail_thr * n, "tail")
        .otherwise("middle")
    )
    return scores.select(
        id_col, group_col, score_col, bucket.alias("ppl_bucket")
    )


def bucket_cutoffs(
    scores: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    score_col: str = "avg_logprob",
    head_frac: float = 0.3,
    tail_frac: float = 0.3,
    sample_frac: float = 1.0,
    salt: str = "ppl-cut-v1",
) -> DataFrame:
    """Per-group bucket CUTOFFS — the scale path's calibration step.
    Deterministically hash-samples `sample_frac` of each group (pure
    function of (id, salt), the hash_split argument), ranks the sample
    with perplexity_buckets' exact rule, and emits per group the
    boundary (score, id) pairs:

      head_cut — the LAST head row; a doc is 'head' iff it ranks at or
                 before it under (score DESC, id ASC)
      tail_cut — the LAST non-tail row; a doc is 'tail' iff it ranks
                 strictly after it

    The output is group-scale (2 structs per group): broadcast it into
    bucket_by_cutoffs. At sample_frac=1.0 the composition reproduces
    perplexity_buckets EXACTLY, ties included, because rank order and
    the (score, id) tuple order are the same total order — pinned by
    tests/test_textstats parity; at sample_frac<1 cutoffs are
    approximate the way CCNet's sampled percentiles are."""
    from ..functions.textfns import hash60
    from pyspark.sql import Window

    if not (0.0 < sample_frac <= 1.0):
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    head_thr, tail_thr = _bucket_thresholds(head_frac, tail_frac)
    s = scores
    if sample_frac < 1.0:
        s_thr = int(round(sample_frac * _PCT))
        bucket = F.pmod(
            hash60(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt))),
            F.lit(_PCT),
        )
        s = s.filter(bucket < s_thr)
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    rn = F.row_number().over(w).cast("long")
    n = F.count("*").over(Window.partitionBy(group_col)).cast("long")
    ranked = s.select(
        group_col,
        F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i"))
         .alias("cut"),
        rn.alias("rn"),
        ((rn - 1) * _PCT < head_thr * n).alias("is_head"),
        ((n - rn) * _PCT < tail_thr * n).alias("is_tail"),
    )
    return ranked.groupBy(group_col).agg(
        F.max_by("cut", F.when(F.col("is_head"), F.col("rn"))).alias("head_cut"),
        # last NON-TAIL row (head wins the head∧tail overlap, so heads
        # count as non-tail); null ordering keys are skipped by max_by
        F.max_by(
            "cut",
            F.when(F.col("is_head") | ~F.col("is_tail"), F.col("rn")),
        ).alias("tail_cut"),
        # distinguishes "group seen, every row tail" (head_frac=0 →
        # both cuts null, docs are tail) from "group never sampled"
        # (left-join nulls, docs fall to middle) in bucket_by_cutoffs
        F.lit(True).alias("grp_seen"),
    )


def bucket_by_cutoffs(
    scores: DataFrame,
    cutoffs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    score_col: str = "avg_logprob",
) -> DataFrame:
    """Assign head/middle/tail by comparing each doc's (score, id)
    against its group's broadcast cutoffs — the 100 TB shape: the
    corpus never sorts, never shuffles on the group key, and the whole
    assignment is one codegen projection after a broadcast join
    (cutoffs are group-scale by construction, so the broadcast hint is
    safe — unlike reject sets, their size does not depend on the
    data distribution).

    Rank order under (score DESC, id ASC) equals tuple order, so
    "ranks at or before head_cut" is (s > cut.s) OR (s = cut.s AND
    id <= cut.i) — exact, no float thresholds. Docs in groups the
    (sampled) cutoffs never saw fall to 'middle' (the conservative
    default: kept by CCNet's head+middle policy but not trusted as
    head)."""
    j = scores.join(F.broadcast(cutoffs), group_col, "left")
    s, i = F.col(score_col), F.col(id_col)
    at_or_before_head = F.col("head_cut").isNotNull() & (
        (s > F.col("head_cut.s"))
        | ((s == F.col("head_cut.s")) & (i <= F.col("head_cut.i")))
    )
    after_tail = F.when(
        F.col("tail_cut").isNotNull(),
        (s < F.col("tail_cut.s"))
        | ((s == F.col("tail_cut.s")) & (i > F.col("tail_cut.i"))),
    ).otherwise(
        # group seen but no non-tail row exists (head_frac=0): every
        # row ranks "after" the empty non-tail prefix → tail
        F.coalesce(F.col("grp_seen"), F.lit(False))
    )
    bucket = (
        F.when(at_or_before_head, "head")
        .when(after_tail, "tail")
        .otherwise("middle")
    )
    return j.select(id_col, group_col, score_col, bucket.alias("ppl_bucket"))
