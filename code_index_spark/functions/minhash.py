"""Pure-Catalyst MinHash banding, shared by corpus dedupe and entity
linking (the blocking stage of J1/§2.5 and the minhash path of the
dedup suite).

Signature: hash j of a doc = min over grams g of the 60-bit value at
hex chars 1-15 (even j) or 17-31 (odd j) of md5(g || '|' || j//2) —
one digest feeds two min-hashes, halving the md5 work. Bands are
either single hashes (rows_per_band=1, an OR-construction) or hash60-
folded groups of r consecutive hashes (AND-OR banding, the production
setting for low-threshold blocking). Every value is md5-derived, so
signatures, bands, and the collision join replicate bit-for-bit in
DuckDB (minhash_bands_sql) — banding is fully value-hash oracle-able,
unlike Spark ML's MinHashLSH whose random coefficients live inside
the fitted model.

Recall contract: under the random-permutation approximation,
P(band i collides) = jaccard(a, b), so a true pair at similarity s is
missed with probability (1 - s)^k. `tables_for_recall` inverts that:
given the minimum similarity the caller wants to keep and a target
miss probability, it returns the smallest k that achieves it. This is
the engine's analogue of the reference's tunable-accuracy ANN contract
(vector_store.py:469-477 — Qdrant's hnsw_ef/exact search dial).

Execution shape (the 100 TB story): signatures are per-row array
transforms — zero shuffle, WholeStageCodegen; banding is one explode
to k rows per doc; candidates come from ONE equi-join on (band, h)
whose volume is linear in bucket sizes, never O(n²). AQE skew-join
splits hot buckets (near-identical boilerplate docs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .textfns import hash60


def tables_for_recall(min_similarity: float, target_miss: float = 0.01) -> int:
    """Smallest k with (1 - min_similarity)^k <= target_miss.

    Examples: s=0.4, miss 1% -> 10 tables; s=0.5, miss 0.3% -> 9;
    s=0.8, miss 1e-6 -> 9. The previous fixed k=5 missed ~8% of true
    pairs at s=0.4 (measured, CLAUDE.md) — exactly what this sizes away.

    min_similarity outside (0, 1) is a caller misconfiguration (e.g.
    jaccard_max_dist=1.0 ⇒ s=0): no table count can give a recall
    guarantee there, so raise instead of silently degrading to k=1.
    """
    if not 0.0 < min_similarity < 1.0:
        raise ValueError(
            f"min_similarity must be in (0, 1), got {min_similarity} — "
            "no band count can guarantee recall at that threshold"
        )
    return max(1, math.ceil(math.log(target_miss) / math.log(1.0 - min_similarity)))


def bands_for_recall(
    min_similarity: float, target_miss: float = 0.01, rows_per_band: int = 1
) -> int:
    """AND-OR sizing: smallest band count b with
    (1 - min_similarity**r)^b <= target_miss.

    Why r>1 exists (measured, bench/lsh_recall.py): with r=1 a random
    LOW-similarity pair still collides with probability ~k*s, so at 10⁶
    short strings over a small char-gram universe the candidate volume
    goes quadratic (70M pairs from 72k surfaces in the round-3
    measurement). r=2 crushes the noise floor to ~b*s² while b recovers
    the recall at the threshold: s_min=0.4, miss 1%, r=2 -> 27 bands.
    Spark ML's MinHashLSH is r=1-only, which is exactly why it was
    retired here."""
    if not 0.0 < min_similarity < 1.0:
        raise ValueError(
            f"min_similarity must be in (0, 1), got {min_similarity} — "
            "no band count can guarantee recall at that threshold"
        )
    p_band = min_similarity ** rows_per_band
    return max(1, math.ceil(math.log(target_miss) / math.log(1.0 - p_band)))


def minhash_bands(
    df: DataFrame,
    id_col: str,
    grams_col: str,
    num_tables: int,
    rows_per_band: int = 1,
) -> DataFrame:
    """(id, band, h): one row per document per table, h = that table's
    min-hash over the gram set. Signature hashing is per-row array
    transforms in codegen; the only data movement is a defensive
    round-robin spread when the input has fewer splits than the
    session's cores (a single small parquet file arrives as ONE
    partition, which would serialize the whole hashing stage on one
    core — the CLAUDE.md broadcast-view trap). Inputs already split
    wider than the core count (any real corpus) skip that shuffle."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)

    # each md5 digest is 128 bits and a min-hash needs only 60: salt
    # pair p yields hashes 2p (hex chars 1-15) and 2p+1 (chars 17-31),
    # halving the digest count. The digest arrays are materialized as
    # projection columns so both halves share one md5 evaluation.
    m = num_tables * rows_per_band

    # closure factories, NOT default-arg lambdas: a 2-arg transform
    # lambda receives the ELEMENT INDEX as its second argument
    # (CLAUDE.md trap), so loop variables must be closed over here
    def _digest_expr(p: int):
        suffix = F.lit("|" + str(p))
        return F.transform(F.col(grams_col), lambda g: F.md5(F.concat(g, suffix)))

    def _half_min(p: int, pos: int):
        # min over the 15-char hex substrings FIRST, one conv per row
        # after (round 6): all md5 substrings are equal-length lowercase
        # hex, whose lexicographic order equals their numeric order, so
        # array_min on the strings picks the same element — and the
        # base-16 parse runs num_tables times per row instead of
        # num_tables × |grams| times. Values are bit-identical (the
        # DuckDB twin min-aggregates the parsed BIGINTs; same result).
        return F.conv(
            F.array_min(
                F.transform(
                    F.col(f"_md{p}"),
                    lambda mcol: F.substring(mcol, pos, 15),
                )
            ),
            16, 10,
        ).cast("long")

    n_digests = (m + 1) // 2
    df = df.withColumns({f"_md{p}": _digest_expr(p) for p in range(n_digests)})

    def table_sig(j: int):
        return _half_min(j // 2, 1 if j % 2 == 0 else 17)

    if rows_per_band == 1:
        sig = F.array(*[table_sig(i) for i in range(num_tables)])
    else:
        # AND-OR: band i's key folds rows_per_band consecutive
        # min-hashes (salts i*r .. i*r+r-1) into one 60-bit value
        def band_val(i: int):
            parts = [
                table_sig(i * rows_per_band + j).cast("string")
                for j in range(rows_per_band)
            ]
            return hash60(F.concat_ws("_", *parts))

        sig = F.array(*[band_val(i) for i in range(num_tables)])
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(sig).alias("band", "h")
    )


def band_collision_pairs(
    bands: DataFrame, max_bucket: int | None = None,
    truncate_lineage: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing >=1 (band, h)
    bucket — the one shuffle of the blocking stage.

    max_bucket is stop-bucket removal, the LSH analogue of stop-gram
    frequency capping (functions.skew.frequency_cap): a bucket of B
    members emits B(B-1)/2 pairs, so one structurally hot bucket —
    popular boundary grams winning both band mins — turns the
    linear-in-bucket-sizes contract quadratic (measured: a 3.5k-member
    bucket at 240k short surfaces ⇒ a 6M-pair straggler task; ~21k at
    1.4M ⇒ a 220M-pair task that stalls the stage). A true pair at
    threshold similarity s collides in ~b·s^r bands in expectation
    (4+ at the default sizing), so dropping the few hot buckets costs
    a bounded recall sliver (measured in BENCH.md) while restoring the
    volume bound. None = no cap (the oracle-checked r=1 document path
    keeps exact semantics).

    The bands plan is scanned up to three times here (hot-bucket
    aggregate + both sides of the self-join); without truncation the
    expensive md5 signature stage — 105 digests per gram at the
    r=3/b=70 link setting — recomputes per scan (the CLAUDE.md
    self-joining-consumer trap, flagged by the round-3 review), so by
    default the compact (id, band, h) table is localCheckpoint-ed
    first. Cost is linear in n·bands rows. The default stays True for
    EVERY in-repo caller — including minhash_verified_pairs, whose shingle
    table is itself checkpointed: the bands checkpoint additionally
    stops the 105-digest signature stage recomputing per scan, and the
    round-4 A/B measured it neutral-to-better even there (BENCH.md).
    truncate_lineage=False exists for callers that need fault
    tolerance through this stage or manage their own materialization.
    Executor-loss caveat: localCheckpoint
    stores blocks on executors with lineage cut, so on a real cluster
    a lost executor FAILS the job instead of recomputing; jobs needing
    fault tolerance through this stage should set reliable
    checkpointing (sparkContext.setCheckpointDir + .checkpoint()) on
    the input and pass truncate_lineage=False."""
    if truncate_lineage:
        bands = bands.localCheckpoint(eager=True)
    if num_partitions:
        # plan-local shuffle sizing (no session-conf mutation): one
        # explicit exchange on the bucket key — the hot-bucket
        # aggregation and BOTH sides of the collision self-join cluster
        # on (band, h), so they all reuse this single repartition
        bands = bands.repartition(num_partitions, "band", "h")
    if max_bucket is not None:
        hot = (
            bands.groupBy("band", "h").agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket).select("band", "h")
        )
        bands = bands.join(F.broadcast(hot), ["band", "h"], "left_anti")
    a = bands.select(F.col("id").alias("id_a"), "band", "h")
    b = bands.select(F.col("id").alias("id_b"), "band", "h")
    return (
        a.join(b, ["band", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_bands_sql(
    grams_cte: str, num_tables: int, rows_per_band: int = 1
) -> str:
    """DuckDB twin of minhash_bands: `grams_cte` must yield (id, g)
    rows (one row per document per distinct gram). Returns SQL for
    (id, band, h) with h identical to the engine's hash60 values."""
    m = num_tables * rows_per_band
    # salt pair j//2 yields hash j from hex chars 1-15 (even j) or
    # 17-31 (odd j) of one digest — mirrors the engine's md5-halving
    mins = (
        "SELECT id, t.j AS j,"
        " min(CAST(('0x' || substr(md5(g || '|' || CAST(t.j // 2 AS VARCHAR)),"
        " CASE WHEN t.j % 2 = 0 THEN 1 ELSE 17 END, 15))"
        " AS BIGINT)) AS h"
        f" FROM ({grams_cte}) gr, range(0, {m}) t(j)"
        " GROUP BY id, t.j"
    )
    if rows_per_band == 1:
        return f"SELECT id, j AS band, h FROM ({mins}) m"
    return (
        f"SELECT id, j // {rows_per_band} AS band,"
        " CAST(('0x' || substr(md5("
        "   string_agg(CAST(h AS VARCHAR), '_' ORDER BY j)"
        " ), 1, 15)) AS BIGINT) AS h"
        f" FROM ({mins}) m GROUP BY id, j // {rows_per_band}"
    )
