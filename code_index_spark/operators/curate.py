"""Composed training-data curation — the end-to-end corpus filter a
100 TB pretraining pipeline runs, as one operator: exact dedupe →
minhash-verified near-dup removal → quality filter → language filter.

Each document is labeled with the FIRST reason that rejects it
(priority: exact_dup > near_dup > low_quality > non_en > keep) under a
deterministic survivor policy — the min-id document of every duplicate
group survives (for verified near-dup pairs id_a < id_b, id_b is the
one removed). Reasons compose the individually-oracled stages
(dedupe.exact_duplicates, dedupe.minhash_verified_pairs,
textstats.quality_features, textstats.lang_id); the driver row
`curation_summary` hash-checks the composition against a DuckDB
re-derivation.

Scale shape: the doc table crosses the wire only in the two dedup
stages (hash-groupBy on md5; minhash banding linear in bucket sizes);
quality and language are per-row codegen. The reject-set joins carry
NO broadcast hint (round-4 ADVICE): reject-list size is
duplication-rate-dependent — a 30-50% dup-rate crawl corpus makes the
lists corpus-scale, and a forced broadcast would OOM the driver
instead of degrading to a shuffle join. AQE picks broadcast when the
lists actually are small. Reason priority is a CASE chain, so adding a
stage is one more WHEN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedupe import exact_duplicates, minhash_verified_pairs
from .textstats import lang_id, quality_features


def near_reject_set(
    docs: DataFrame,
    near_dup_threshold: float = 0.8,
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """(doc_id, r_near=1) — the near-dup non-survivors of a (doc_id,
    text) corpus: id_b of every minhash-verified pair (id_a < id_b, so
    the min id survives). Single source of the near-dup survivor
    policy, shared by reject_sets (curation_labels) and
    prepare.compact_prepared_labels (prepare_corpus and the streaming
    compaction)."""
    return (
        minhash_verified_pairs(docs, "doc_id", "text",
                               threshold=near_dup_threshold,
                               max_bucket=near_dup_max_bucket)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("r_near", F.lit(1))
    )


def reject_sets(
    docs: DataFrame,
    near_dup_threshold: float = 0.8,
    near_dup_max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two duplicate reject sets over a (doc_id, text) corpus:
    (exact_removed, near_removed), each a (doc_id, marker) table whose
    rows are the non-survivor documents (min-id survivor policy; for
    verified near-dup pairs id_a < id_b, id_b is removed), for
    curation_labels."""
    ex = exact_duplicates(docs, "doc_id", "text")
    exact_removed = (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .join(ex.select("text_hash", "keep_id"), "text_hash")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
        .withColumn("r_exact", F.lit(1))
    )
    near_removed = near_reject_set(
        docs, near_dup_threshold, near_dup_max_bucket
    )
    return exact_removed, near_removed


def curation_labels(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.8,
    min_quality: float = 0.7,
    keep_lang: str = "en",
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """(id, reason, doc_chars) per document.

    near_dup_max_bucket → dedupe.minhash_verified_pairs: stop-bucket
    cap for the near-dup blocking stage. None (default) keeps exact
    oracle semantics; crawl-scale corpora with boilerplate cliques
    should set it (~1000) or the candidate join goes quadratic in the
    clique size (measured in operators/dedupe.minhash_band_candidates)."""
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    exact_removed, near_removed = reject_sets(
        docs, near_dup_threshold, near_dup_max_bucket
    )
    feat = quality_features(docs, "text")
    langs = lang_id(docs, "text")
    base = (
        docs.select("doc_id", F.length("text").alias("doc_chars"))
        .join(feat.select("doc_id", "quality_score"), "doc_id")
        .join(langs.select("doc_id", "pred_lang"), "doc_id")
        .join(exact_removed, "doc_id", "left")
        .join(near_removed, "doc_id", "left")
    )
    reason = (
        F.when(F.col("r_exact") == 1, "exact_dup")
        .when(F.col("r_near") == 1, "near_dup")
        .when(F.col("quality_score") < min_quality, "low_quality")
        .when(F.col("pred_lang") != keep_lang, "non_en")
        .otherwise("keep")
    )
    return base.select("doc_id", reason.alias("reason"), "doc_chars")


def curation_summary(df: DataFrame, **kwargs) -> DataFrame:
    """(reason, n_docs, n_chars), ordered by reason."""
    return (
        curation_labels(df, **kwargs)
        .groupBy("reason")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_chars").alias("n_chars"))
        .orderBy("reason")
    )
