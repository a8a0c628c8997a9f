"""Scalar text helpers (SURVEY.md §2.9) shared by queries and rules."""

from __future__ import annotations

from pyspark.sql import functions as F


def hash60(col):
    """Deterministic 60-bit hash = first 15 hex chars of md5, as a
    non-negative BIGINT. The same value is computable in DuckDB as
    CAST('0x' || substr(md5(x), 1, 15) AS BIGINT), which keeps every
    hashing operator (simhash, winnowing fingerprints) fully
    value-hash oracle-able across engines. 60 bits avoids BIGINT sign
    games in ANSI mode."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


HASH60_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def hash52(col):
    """52-bit md5 prefix hash (13 hex chars). Use where the hash feeds
    FLOAT arithmetic: every value < 2^52 is exactly representable as a
    double, so (h + 0.5) / 2^52 is a strict-(0,1) uniform computed
    identically in Spark and DuckDB — no bigint→double rounding at the
    2^60 magnitude where doubles lose low bits."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def word_grams(words, gram_n: int):
    """Space-joined word `gram_n`-grams of an array<string> column, in
    position order: the package's one word-window builder. Shingles
    (dedupe.word_ngrams), hashed passage windows (dedupe's window
    operators), fingerprints, decontamination grams and the hashed
    classifier/DSIR features all build their windows here.

    Built by chaining zip_with against shifted copies — one pass per
    shift, no per-gram array slicing. The transform(sequence,
    i → concat_ws(slice)) form evaluates its words expression inside
    the lambda, once per window, so its cost grows with words² per
    doc: 8-word windows over 100k sf0.1 documents (local[4]) took
    14.1 s that way and 5.0 s here, and on 13-word docs the two tie.
    zip_with pads the shorter side with null and ANSI concat
    propagates it, so the <gram_n tails null out and one array_compact
    trims them: inputs shorter than gram_n yield [], and a NULL array
    yields NULL.

    Callers that need a rule for texts shorter than gram_n words wrap
    this in a `when` on size(words): word_ngrams gives such a text one
    whole-text window (array_join(words, ' ')), the hashed passage
    windows give it none."""

    def chain(w):
        n_raw = F.size(w)
        grams = w
        for k in range(2, gram_n + 1):
            shifted = F.slice(w, k, F.greatest(n_raw - (k - 1), F.lit(1)))
            grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
        return F.array_compact(grams)

    # `words` is bound to a lambda variable so it is evaluated once per
    # row: a `when` branch or a generator (explode) gets no common-
    # subexpression elimination, so each of the chain's gram_n
    # references would re-run the caller's split (unbound, 8-word
    # windows over 13-word docs ran 2× slower than the slice form)
    return F.element_at(F.transform(F.array(words), chain), 1)


def glob_to_rlike(pattern: str) -> str:
    """Translate an fnmatch-style glob to an anchored regex (the Spark
    re-expression of the reference's ignore-pattern matching,
    utils.py:98-101 fnmatch semantics).

    Delegates to fnmatch.translate for exact semantics — including the
    set-scanning and invalid-range corner cases — then re-anchors its
    `(?s:...)\\Z` full-match form for partial-match engines (Spark
    rlike / DuckDB regexp_matches). The resulting syntax is in the
    Java-regex ∩ RE2 ∩ Python subset: inline (?s:) group, ^/$ anchors,
    character classes."""
    import fnmatch

    t = fnmatch.translate(pattern)
    if t.endswith(r"\Z"):
        t = t[: -len(r"\Z")]
    return f"^{t}$"


def content_type(col):
    """Heuristic content-type classifier for turn text — the
    deterministic analogue of the reference's Magika AI file-type gate
    (services/ai/magika_detector.py:71-101): routes each turn to the
    right parsing branch (X10). Pure when/otherwise chain — stays in
    codegen, and the CASE is expressible in ANSI SQL for the oracle.

    Classes: 'empty', 'kv' (key=value lines), 'code' (fenced block),
    'url_heavy', 'prose'."""
    t = F.coalesce(col, F.lit(""))
    # trim() strips only spaces (not \n\t) in both Spark and DuckDB —
    # use a whitespace regex for emptiness. (?d) is Java's UNIX_LINES:
    # without it ^ $ . also treat \r \u0085 \u2028 \u2029 as line
    # ends, which Python re and RE2 (the oracle's) do not
    return (
        F.when(t.rlike(r"(?d)^\s*$"), "empty")
        .when(t.rlike(r"(?dm)^[a-z_][a-z0-9_]*=[^\n]+$"), "kv")
        .when(t.contains("```"), "code")
        .when(
            F.size(F.regexp_extract_all(t, F.lit(r"https?://"), F.lit(0))) >= 2,
            "url_heavy",
        )
        .otherwise("prose")
    )
