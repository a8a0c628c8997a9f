"""Output checks and quality scores.

Everything here compares engine output against either planted truth
from ``gen`` or an independent recomputation; none of it is timed.
"""

from __future__ import annotations

import math
import re
from collections import Counter


def digest(df, cols: list[str]) -> int:
    """Order-independent digest of a DataFrame's rows over `cols`:
    bit_xor of per-row xxhash64, mixed with the row count (the
    ``checkpoint.bucket_hashes`` construction; ANSI ``sum`` overflows,
    and a bare XOR cancels duplicate row pairs)."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.xxhash64(F.expr("bit_xor(h)"), F.count("*")).alias("d")
    ).first()
    return int(row["d"])


def pair_scores(assignment: dict[str, object], truth: dict[str, object]) -> tuple[float, float]:
    """(recall, precision) of same-cluster pairs. `assignment` maps
    item → predicted cluster, `truth` item → planted family; items
    missing from `truth` are their own family. Counted in closed form:
    C(n, 2) pairs per cell, per family and per predicted cluster."""
    def pairs(counter: Counter) -> int:
        return sum(c * (c - 1) // 2 for c in counter.values())

    fam = {k: truth.get(k, ("own", k)) for k in assignment}
    both = pairs(Counter((assignment[k], fam[k]) for k in assignment))
    true_pairs = pairs(Counter(fam.values()))
    pred_pairs = pairs(Counter(assignment.values()))
    recall = both / true_pairs if true_pairs else 1.0
    precision = both / pred_pairs if pred_pairs else 1.0
    return recall, precision


def char_grams(s: str) -> set[str]:
    """Char 3-grams of a surface, normalized and padded exactly as
    operators.link's normalize_surface and char_ngrams do."""
    norm = re.sub(r" +", " ", re.sub(r"[-_]", " ", s.lower().replace("@", "")).strip())
    p = f" {norm} "
    return {p[i:i + 3] for i in range(max(len(p) - 2, 1))}


def verify_pairs(surfaces: list[str], pairs: list[tuple[str, str, float, float]],
                 probe_pairs: list[tuple[str, str]], min_jaccard: float = 0.4,
                 min_cosine: float = 0.5, tol: float = 1e-9) -> list[str]:
    """Recompute gram Jaccard and TF-IDF cosine in Python.

    Every returned pair must carry the recomputed scores and pass both
    thresholds; every probe pair (planted same-family surfaces) whose
    recomputed scores pass must be returned. Returns the problems."""
    grams = {s: char_grams(s) for s in surfaces}
    df = Counter(g for gs in grams.values() for g in gs)
    n = len(surfaces)
    w = {g: math.log((n + 1) / (d + 1.0)) + 1.0 for g, d in df.items()}
    norm = {s: math.sqrt(sum(w[g] ** 2 for g in gs)) for s, gs in grams.items()}

    def score(a: str, b: str) -> tuple[float, float]:
        inter = grams[a] & grams[b]
        jac = len(inter) / (len(grams[a]) + len(grams[b]) - len(inter))
        cos = sum(w[g] ** 2 for g in inter) / (norm[a] * norm[b])
        return jac, cos

    problems = []
    for a, b, jac, cos in pairs:
        if a not in grams or b not in grams or not a < b:
            problems.append(f"pair ({a!r}, {b!r}) not over known surfaces")
            continue
        rj, rc = score(a, b)
        if abs(rj - jac) > tol or abs(rc - cos) > tol:
            problems.append(f"pair ({a!r}, {b!r}) scores {jac},{cos} != {rj},{rc}")
        elif rj < min_jaccard or rc < min_cosine:
            problems.append(f"pair ({a!r}, {b!r}) below threshold")
    returned = {(a, b) for a, b, _, _ in pairs}
    for a, b in probe_pairs:
        a, b = min(a, b), max(a, b)
        if a in grams and b in grams:
            rj, rc = score(a, b)
            if rj >= min_jaccard and rc >= min_cosine and (a, b) not in returned:
                problems.append(f"qualifying pair ({a!r}, {b!r}) missing")
    return problems


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, as operators.dedupe.word_ngrams builds
    them for single-spaced text."""
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}


def verify_clusters(texts: list[str], family: list[int], cluster: dict[int, int],
                    threshold: float = 0.8) -> tuple[float, list[str]]:
    """Near-duplicate clusters against planted families (`family[i]` is
    a family id, or negative for documents planted unique). Every doc
    needs a cluster; a cluster may hold only one family; planted pairs
    whose shingle Jaccard reaches `threshold` must share a cluster.
    Returns (recall over those pairs, problems)."""
    problems = []
    if sorted(cluster) != list(range(len(texts))):
        problems.append(f"{len(cluster)} docs clustered, {len(texts)} written")
    members: dict[int, set] = {}
    for d, c in cluster.items():
        members.setdefault(c, set()).add(family[d] if family[d] >= 0 else ("own", d))
    mixed = sum(1 for fams in members.values() if len(fams) > 1)
    if mixed:
        problems.append(f"{mixed} clusters mix planted families")
    by_fam: dict[int, list[int]] = {}
    for d, f in enumerate(family):
        if f >= 0:
            by_fam.setdefault(f, []).append(d)
    want = hit = 0
    for docs in by_fam.values():
        sh = {d: word_shingles(texts[d]) for d in docs}
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter = len(sh[a] & sh[b])
                if inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
                    want += 1
                    hit += cluster.get(a) == cluster.get(b)
    if hit < want:
        problems.append(f"{want - hit} of {want} qualifying planted pairs split")
    return (hit / want if want else 1.0), problems
