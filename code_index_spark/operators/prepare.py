"""Composed corpus preparation — the full pretraining-data pass over a
raw corpus as ONE operator: curation (exact dedupe → minhash-verified
near-dup removal → quality filter → language filter) → benchmark
decontamination against an eval suite → PII scrub → deterministic
train/val/test assignment. This is the pipeline a 100 TB run actually
executes end-to-end; the stages are the individually-oracled operators
(decontam.decontaminate, pii.pii_features, split.hash_split,
textstats.quality_features/lang_id, curate.near_reject_set) composed
under one reason-priority policy, and the whole composition carries a
full DuckDB value-hash oracle (driver rows `corpus_prepare_labels` /
`corpus_prepare_summary`).

Reason priority (first rejecting stage wins):
    exact_dup > near_dup > contaminated > low_quality > non_en > keep
Contamination sits between dedup and the per-row filters: a duplicate
is removed for being a duplicate whether or not it also overlaps the
eval suite, while a contaminated doc must never reach training even if
its quality is also low — ordering the reasons this way makes the
summary's `contaminated` row the complete leak count among surviving
unique docs.

Scale shape (the part that matters at 100 TB):
  - ONE corpus scan computes every per-row signal — PII counts,
    quality features, language vote, split bucket — as chained
    WholeStageCodegen projections (each stage is withColumn-shaped, so
    they fuse; no Python workers anywhere).
  - The corpus crosses the wire only in the dedup stages (md5
    hash-groupBy; minhash banding linear in bucket sizes) — the same
    invariant as curate.py.
  - The eval-suite gram set is broadcast inside decontaminate (eval
    suites are bounded by construction); the exact-dup, contamination
    and near-dup joins carry NO broadcast hint — their size is
    duplication-/leak-rate-dependent, so AQE picks the strategy
    (round-4 ADVICE discipline).
  - Split assignment is a pure function of (doc_id, salt): zero
    shuffle, reproducible across runs/engines/partitionings, and the
    `split` column partition-prunes the downstream corpus write.

Reference parity: code-index runs its per-file pipeline (ignore-filter
→ parse → extract → embed → upsert) as one orchestrated pass
(indexing_orchestrator.py:60-140); prepare_corpus is the corpus-scale
counterpart with the training-data stages in place of embed/upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import empty_frame
from .curate import near_reject_set
from .decontam import decontaminate
from .dedupe import text_survivors
from .pii import pii_features
from .split import hash_split
from .textstats import lang_id, quality_features

REASONS = ("exact_dup", "near_dup", "contaminated", "low_quality",
           "non_en", "keep")

# the exact-dup registry: one (md5(text), surviving doc id) row per
# distinct text
REGISTRY_DDL = "text_hash string, keep_id bigint"


def prepare_corpus(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.8,
    min_quality: float = 0.7,
    keep_lang: str = "en",
    decontam_gram_n: int = 8,
    decontam_min_matches: int = 1,
    fractions: dict[str, float] | None = None,
    split_salt: str = "split-v1",
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """(doc_id, reason, split, has_pii, doc_chars) per training doc.

    `reason` is the first rejecting stage (priority above); `split` is
    the doc's deterministic hash_split assignment (computed for every
    doc — it is a pure function of (doc_id, salt) — so downstream
    consumers filter reason = 'keep' and group by split); `has_pii`
    flags docs whose text matched any pii.PII_PATTERNS class (the
    publishable corpus is the keep-set joined back to
    pii.redact_pii's output).

    The corpus is labeled as ONE batch against an empty exact-dup
    registry (batch_labels), then its near-dups are upgraded
    (compact_prepared_labels) — the same two steps the streaming twin
    runs per micro-batch and per compaction window, so both paths share
    one reason priority.

    near_dup_max_bucket → dedupe.minhash_verified_pairs stop-bucket
    cap; crawl corpora with boilerplate cliques should set it (~1000),
    see curate.curation_labels."""
    labels, _ = batch_labels(
        df, empty_frame(df.sparkSession, REGISTRY_DDL), eval_df, id_col,
        text_col, min_quality, keep_lang, decontam_gram_n,
        decontam_min_matches, fractions, split_salt,
    )
    return compact_prepared_labels(
        df, labels, id_col, text_col, near_dup_threshold, near_dup_max_bucket
    )


def batch_labels(
    batch_df: DataFrame,
    old_registry: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.7,
    keep_lang: str = "en",
    decontam_gram_n: int = 8,
    decontam_min_matches: int = 1,
    fractions: dict[str, float] | None = None,
    split_salt: str = "split-v1",
    eval_grams: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(labels, batch_winners) for one batch of docs against the
    accumulated REGISTRY_DDL registry `old_registry` (empty for a whole
    corpus labeled as one batch, as prepare_corpus does; the
    accumulated deltas in streaming/prepare_stream). `batch_winners`
    is (text_hash, batch_keep): the min doc id per text in the batch
    (dedupe.text_survivors).

    Reasons here never say 'near_dup' — that stage is
    compact_prepared_labels'. A doc whose text hash is in the registry
    is an exact_dup; within the batch the min-id doc survives.

    NULL-text docs: md5(NULL) is NULL, which equi-joins with nothing,
    so they are never duplicates of anything but MUST still get a
    label row — hence the left join on winners and the coalesce to
    r_exact=0."""
    docs = batch_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("text_hash", F.md5("text"))

    winners = text_survivors(docs, "doc_id", "text").select(
        "text_hash", F.col("keep_id").alias("batch_keep"))
    # a hash seen in ANY earlier batch makes every copy here a dup;
    # otherwise the within-batch min id survives
    flagged = (
        docs
        .join(old_registry.select("text_hash",
                                  F.col("keep_id").alias("old_keep")),
              "text_hash", "left")
        .join(winners, "text_hash", "left")
        .withColumn(
            "r_exact",
            F.coalesce(
                (F.col("old_keep").isNotNull()
                 | (F.col("doc_id") != F.col("batch_keep"))).cast("int"),
                F.lit(0),
            ),
        )
        .drop("old_keep", "batch_keep")
    )

    contam = (
        decontaminate(docs, eval_df.select(F.col(text_col).alias("text")),
                      "doc_id", "text", gram_n=decontam_gram_n,
                      eval_grams=eval_grams)
        .filter(F.col("n_shared_grams") >= decontam_min_matches)
        .select("doc_id")
        .withColumn("r_contam", F.lit(1))
    )
    # every per-row signal in one fused projection chain over one scan
    perrow = hash_split(
        lang_id(quality_features(pii_features(flagged, "text"), "text"),
                "text"),
        "doc_id", fractions, split_salt,
    ).select(
        "doc_id", "r_exact", F.length("text").alias("doc_chars"),
        "quality_score", "pred_lang", "has_pii", "split",
    )
    reason = (
        F.when(F.col("r_exact") == 1, "exact_dup")
        .when(F.col("r_contam") == 1, "contaminated")
        .when(F.col("quality_score") < min_quality, "low_quality")
        .when(F.col("pred_lang") != keep_lang, "non_en")
        .otherwise("keep")
    )
    labels = (
        perrow.join(contam, "doc_id", "left")
        .select("doc_id", reason.alias("reason"), "split", "has_pii",
                "doc_chars")
    )
    return labels, winners


def compact_prepared_labels(
    docs: DataFrame,
    stream_labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.8,
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """The near-dup stage over labels that lack it: run the
    minhash-verified near-dup detection over the FULL corpus `docs`
    and upgrade the batch_labels reasons —

      exact_dup stays exact_dup (it outranks near_dup in the reason
      priority); any other reason whose doc is in the near reject set
      becomes near_dup; everything else is unchanged.

    prepare_corpus is batch_labels plus this step. The streaming twin
    (streaming/prepare_stream.py) defers near-dup to this step by
    design — minhash banding against the accumulated corpus is not
    proportional to a micro-batch sliver — and its compacted labels
    equal prepare_corpus over the same corpus whenever ids arrive in
    batch order (the stream's first-seen-batch-then-min-id exact
    survivor is then the global min-id survivor) — pinned by pytest.

    Scale shape: one full-corpus near-dup pass plus one
    labels×reject-set join (no broadcast hint — reject size is
    dup-rate-dependent, the round-4 ADVICE discipline)."""
    d = docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"))
    near_removed = near_reject_set(
        d, near_dup_threshold, near_dup_max_bucket
    )
    reason = (
        F.when(F.col("reason") == "exact_dup", "exact_dup")
        .when(F.col("r_near") == 1, "near_dup")
        .otherwise(F.col("reason"))
    )
    return (
        stream_labels.join(near_removed, "doc_id", "left")
        .select("doc_id", reason.alias("reason"), "split", "has_pii",
                "doc_chars")
    )


def summarize_labels(labels: DataFrame) -> DataFrame:
    """(reason, split, n_docs, n_chars, n_pii_docs) from an existing
    prepare_corpus labels table — the single definition of the run
    report, shared by prepare_summary (recompute path, oracled) and
    jobs/prepare_corpus.py (which consumes its already-checkpointed
    labels instead of re-running the pipeline)."""
    return (
        labels.groupBy("reason", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_chars").cast("long").alias("n_chars"),
            F.sum(F.col("has_pii").cast("int")).cast("long").alias("n_pii_docs"),
        )
        .orderBy("reason", "split")
    )


def prepare_summary(df: DataFrame, eval_df: DataFrame, **kwargs) -> DataFrame:
    """(reason, split, n_docs, n_chars, n_pii_docs) — the run report a
    pipeline operator reads: what survived, where it landed, how much
    was scrubbed."""
    return summarize_labels(prepare_corpus(df, eval_df, **kwargs))


def snapshot_diff(
    old_df: DataFrame, new_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus snapshot diff — the added/removed/changed/unchanged
    computation an incremental pipeline runs to decide what work the
    next pass owes (the corpus-level generalization of the
    checkpoint store's changed-file incremental skip,
    sources/checkpoint.py; reference bar: code-index reindexes a file
    when its hash changes, file_processing_helpers hash gate).

      doc_id    — union of both snapshots' ids
      status    — 'added' (new only) / 'removed' (old only) /
                  'changed' (both, text hash differs) / 'unchanged'
      old_hash / new_hash — md5 of the text on each side (NULL on the
                  absent side), so downstream stages can route work
                  without re-reading either snapshot

    Scale shape: each side is hashed in its own scan BEFORE the one
    full-outer shuffle on the id — the wide text column never crosses
    the wire, only (id, 32-char hash). No collects, no windows."""
    oh = old_df.select(
        F.col(id_col).alias("doc_id"), F.md5(text_col).alias("old_hash")
    )
    nh = new_df.select(
        F.col(id_col).alias("doc_id"), F.md5(text_col).alias("new_hash")
    )
    j = oh.join(nh, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), "added")
        .when(F.col("new_hash").isNull(), "removed")
        .when(F.col("old_hash") != F.col("new_hash"), "changed")
        .otherwise("unchanged")
    )
    return j.select("doc_id", status.alias("status"), "old_hash", "new_hash")


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int = 64,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard layout —
    the step between a prepared corpus and a dataloader: every doc
    gets a shard and an in-shard position from a salted hash, so the
    training order is (a) pseudo-random, (b) a pure function of
    (salt, id) — reproducible across runs, partitionings, and engines
    — and (c) computed WITHOUT a global sort.

      shard          — hash60(salt:id) % n_shards (balanced in
                       expectation; hash keys don't skew)
      pos            — dense 0-based rank within the shard, ordered by
                       (hash, id): the in-shard read order
      interleave_key — pos·n_shards + shard: unique; reading shards
                       round-robin by pos IS ascending interleave_key,
                       which defines one global shuffled order without
                       any engine ever sorting the full corpus

    Scale shape: ONE hash shuffle on `shard` plus a per-shard local
    sort (the window partitions by shard, so sorts run in parallel and
    each is 1/n_shards of the corpus). At 100 TB choose n_shards so a
    shard fits an executor's sort spill budget (e.g. 4096 shards ×
    ~25 GB); a global orderBy(hash) would instead range-sample and
    range-shuffle the whole corpus to produce the same order this gets
    by construction. Changing `salt` is a fresh epoch-level reshuffle.

    Reference parity: code-index has no training-output stage; this is
    the shard/shuffle layout member of the training-data family,
    downstream of pack_sequences (operators/prepare.py pack path).
    Determinism discipline matches split.hash_split (never
    randomSplit)."""
    from pyspark.sql import Window

    from ..functions.textfns import hash60

    hkey = hash60(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        hkey.alias("hkey"),
        (hkey % n_shards).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return base.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    ).withColumn(
        "interleave_key",
        F.col("pos") * n_shards + F.col("shard"),
    )
