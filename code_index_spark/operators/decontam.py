"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set — the standard pretraining-
pipeline step that keeps eval answers out of the training corpus
(the n-gram-overlap method used by GPT-3 appendix C / Dolma / FineWeb).

Scale shape (the part that matters at 100 TB): the EVAL side is an
evaluation suite — bounded at ~10⁴–10⁶ documents by construction, its
distinct-gram set a few hundred MB of 8-byte hashes at worst — so it
is broadcast, and the corpus side is filtered map-side in the scan
stage: the only exchange is the per-doc match count over the
(tiny) post-filter survivors. The corpus itself never shuffles.
Compare `operators/curate.py`, where the reject lists are
duplication-rate-dependent and deliberately NOT broadcast (round-4
ADVICE): an eval suite's size is bounded by design, a reject list's
is not.

Reference parity: code-index gates indexed content against configured
exclusion lists (file_processing_helpers.py:55-57, ignore/exclude
machinery in utils.py:98-101); decontamination is the corpus-scale
generalization — exclusion by content overlap rather than by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.textfns import hash60, word_grams


def _distinct_doc_grams(df: DataFrame, id_col: str | None, text_col: str,
                        gram_n: int) -> DataFrame:
    """Per-doc distinct gram hashes (or the global distinct set when
    id_col is None). Hashing to 60-bit longs before the join keeps the
    broadcast table fixed-width (8 bytes/gram vs the gram string) and
    the probe a long==long compare; hash60 is the shared md5 trick so
    the DuckDB oracle can replicate values exactly — though the oracle
    joins raw gram strings, which is the same answer (a 60-bit
    collision inside one doc's ~10³ grams is ~1e-12)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.array_distinct(word_grams(words, gram_n))
    if id_col is None:
        return (
            df.select(F.explode(grams).alias("gram"))
            .select(hash60(F.col("gram")).alias("gh"))
            .distinct()
        )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))
        .select("doc_id", hash60(F.col("gram")).alias("gh"))
    )


def eval_gram_set(eval_df: DataFrame, text_col: str,
                  gram_n: int = 8) -> DataFrame:
    """The distinct eval gram-hash table decontaminate() builds from
    `eval_df` — exposed so a REPEATED consumer can build it once,
    localCheckpoint it, and pass it back via `eval_grams`. The
    streaming preparation path needs this: without it every
    micro-batch re-explodes the full eval suite to rebuild the
    broadcast side, a per-batch cost proportional to the EVAL SUITE
    instead of the batch sliver (measured as the dominant per-batch
    constant in bench/prepare_stream_scale.py)."""
    return _distinct_doc_grams(eval_df, None, text_col, gram_n)


def decontaminate(train_df: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str, gram_n: int = 8,
                  eval_grams: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_shared_grams) for every training doc sharing at
    least one word `gram_n`-gram with the eval set; n_shared_grams
    counts the doc's DISTINCT overlapping grams. Docs absent from the
    output are clean — a curation pipeline anti-joins this result.

    gram_n=8 is the conventional decontamination window (GPT-3 used
    13, Dolma 8); small corpora with small vocabularies want smaller
    windows to be meaningful.

    eval_grams: a precomputed eval_gram_set(...) table (gram_n must
    match); when given, eval_df is not touched — the repeated-call
    path."""
    ev = (eval_grams if eval_grams is not None
          else _distinct_doc_grams(eval_df, None, text_col, gram_n))
    tr = _distinct_doc_grams(train_df, id_col, text_col, gram_n)
    return (
        tr.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def decontaminate_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    gram_n: int = 8,
    n_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """decontaminate() with a Bloom-filter prefilter — the crawl-scale
    variant for when even the hashed eval-gram set is too large to
    broadcast comfortably: the eval grams collapse to a FIXED-size bit
    array (n_bits/8 bytes — 128 KiB at the default, independent of
    eval-set size) shipped to every task as ONE broadcast row; corpus
    grams failing any of the k bit tests are dropped map-side in the
    scan stage, and only the surviving rows (true overlaps plus the
    ~(n·k/m)^k false-positive mass) exact-join the eval grams to kill
    false positives. Output is IDENTICAL to decontaminate() — same
    (doc_id, n_shared_grams) rows, same DuckDB oracle — because the
    Bloom stage only prunes, never decides.

    Pure Catalyst and ANSI-safe: positions are Kirsch-Mitzenmacher
    double hashing pos_i = (h1 + i·(h2 mod m)) mod m over the two
    independent 60-bit halves of ONE md5 digest (hex chars 1-15 and
    17-31 — the one-md5-two-hashes trick), the bit array is a groupBy
    on the word index + BIT_OR of single-bit masks, membership is a
    map lookup + shiftright on the broadcast row (SQL shiftleft/
    shiftright take column shift amounts; the Python DSL wrappers do
    not, hence F.expr). The survivor join is left to AQE — survivors
    are runtime-small, and forcing a broadcast of the eval grams there
    would re-create exactly the memory profile this variant avoids
    (the round-4 curate ADVICE discipline).

    Reference parity: same exclusion-by-overlap bar as decontaminate
    (file_processing_helpers.py:55-57); the sketch replaces the set
    the way web-scale pipelines (RefinedWeb/Dolma-class) do."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.array_distinct(word_grams(words, gram_n))

    def hashed_grams(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col).alias("doc_id")] if with_id else []
        g = df.select(*cols, F.explode(grams).alias("gram"))
        out = g.select(
            *(["doc_id"] if with_id else []),
            hash60(F.col("gram")).alias("gh"),
            # second independent 60-bit hash from the same digest,
            # pre-reduced mod m so position arithmetic stays tiny
            (F.conv(F.substring(F.md5(F.col("gram")), 17, 15), 16, 10)
             .cast("long") % n_bits).alias("h2m"),
        )
        return out if with_id else out.distinct()

    evh = hashed_grams(eval_df, with_id=False)
    pos_sql = [f"((gh % {n_bits}) + {i} * h2m) % {n_bits}"
               for i in range(k_hashes)]
    pos = evh.select(
        F.explode(F.array(*[F.expr(p) for p in pos_sql])).alias("p")
    )
    bloom = (
        pos.select(
            F.expr("cast(p div 64 as int)").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    bm = bloom.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("w", "bits")))
        ).alias("bm")
    )
    trh = hashed_grams(train_df, with_id=True)
    tests = [
        f"(shiftright(coalesce(try_element_at(bm,"
        f" cast(({p}) div 64 as int)), 0L),"
        f" cast(({p}) % 64 as int)) & 1L) = 1L"
        for p in pos_sql
    ]
    cand = trh.crossJoin(F.broadcast(bm)).where(" AND ".join(tests))
    return (
        cand.select("doc_id", "gh")
        .join(evh.select("gh"), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .orderBy("doc_id")
    )
