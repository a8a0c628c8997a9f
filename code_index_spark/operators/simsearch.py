"""Similarity search over an embedding column (array<float>).

Two paths:
  brute_force_topk — exact cosine top-k; F.zip_with/F.aggregate dot
    product, fully JVM-side (no Python), TakeOrderedAndProject for the
    limit. Baseline + oracle-checkable.
  lsh_bucketed_topk — the scale path: random-hyperplane sign-bucket
    the corpus once (IVF-style coarse quantization), probe only the
    query's bucket ± multiprobe neighbors, rescore exactly. Candidate
    set size is corpus/2^bits on average, so 100 TB corpora stay
    sub-linear per query.

The reference analogue: Qdrant ANN search with score_threshold + top-k
(vector_store.py:469-528).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def dot(u, v):
    """Dot product of two array<double> columns, JVM-side: the one
    vector dot of the package (simsearch and dedupe's cosine pairs)."""
    return F.aggregate(F.zip_with(u, v, lambda a, b: a * b), F.lit(0.0),
                       lambda acc, x: acc + x)


def norm(v):
    """Euclidean norm of an array<double> column."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def validated_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """E5 engine-side dimension validation (reference
    dimension_validator.py): any row whose embedding length ≠ dim fails
    the job with a clear error instead of silently corrupting a dot
    product. Zero extra scan — the check rides the existing plan
    (raise_error only evaluates on the mismatch branch)."""
    v = F.col(vec_col)
    checked = F.when(F.size(v) == dim, v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding dimension mismatch: expected {dim}, got "),
                F.size(v).cast("string"),
            )
        )
    )
    return df.withColumn(vec_col, checked)


def with_cosine(df: DataFrame, vec_col: str, query: list[float]) -> DataFrame:
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return df.withColumn(
        "cosine", dot(F.col(vec_col), qcol) / (norm(F.col(vec_col)) * F.lit(qn))
    )


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10,
    min_score: float | None = None,
) -> DataFrame:
    """Exact cosine top-k (+ optional score threshold, reference
    vector_store.py:469 score_threshold semantics)."""
    scored = with_cosine(df, vec_col, query).select(
        F.col(id_col).alias("id"), F.round("cosine", 6).alias("cosine")
    )
    if min_score is not None:
        scored = scored.filter(F.col("cosine") >= min_score)
    return scored.orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def hyperplane_signature(vec_col, planes: np.ndarray):
    """Sign-bit bucket id of a vector column under fixed hyperplanes."""
    sig = None
    for p in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bit = (dot(F.col(vec_col), plane) > 0).cast("long")
        sig = bit if sig is None else sig * 2 + bit
    return sig


def build_lsh_index(df: DataFrame, id_col: str, vec_col: str,
                    n_planes: int = 8, seed: int = 42) -> tuple[DataFrame, np.ndarray]:
    """One-time bucketing pass. Persist/write the result partitioned by
    bucket; queries then prune to one partition."""
    dim = len(df.select(vec_col).first()[0])
    planes = np.random.RandomState(seed).randn(n_planes, dim)
    indexed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", hyperplane_signature("v", planes))
    return indexed, planes


def build_ivf_index(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int = 16, seed: int = 42
):
    """IVF coarse quantization: KMeans centroids over the corpus, each
    vector assigned to its nearest cell. Returns (indexed_df, centroids
    ndarray). One-time pass; persist/write partitioned by `cell` so a
    query prunes to its probed cells' partitions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feat = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("features", array_to_vector("v"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(feat)
    indexed = model.transform(feat).select("id", "v", "cell")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return indexed, centroids


def ivf_topk(
    indexed: DataFrame, centroids: np.ndarray, query: list[float], k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Probe the `n_probe` cells whose centroids are nearest the query
    (by cosine), exact-rescore their members. Candidate set ≈
    corpus × n_probe / n_cells — the IVF recall/latency dial."""
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    cn = np.linalg.norm(centroids, axis=1)
    sims = (centroids @ q) / np.where(cn * qn == 0, 1, cn * qn)
    probes = [int(i) for i in np.argsort(-sims)[:n_probe]]
    cand = indexed.filter(F.col("cell").isin(probes))
    return brute_force_topk(cand, "id", "v", query, k)


def lsh_bucketed_topk(
    indexed: DataFrame, planes: np.ndarray, query: list[float], k: int = 10,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Probe the query bucket (± buckets within Hamming distance
    `multiprobe_hamming` of it), then exact-rescore candidates."""
    q = np.asarray(query, dtype=np.float64)
    qsig = 0
    for p in range(planes.shape[0]):
        qsig = qsig * 2 + (1 if float(planes[p] @ q) > 0 else 0)
    n_planes = planes.shape[0]
    probes = {qsig}
    if multiprobe_hamming >= 1:
        probes |= {qsig ^ (1 << b) for b in range(n_planes)}
    cand = indexed.filter(F.col("bucket").isin([int(x) for x in probes]))
    return brute_force_topk(cand, "id", "v", query, k)
