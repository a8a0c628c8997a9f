"""Entity linking (MinHashLSH blocking + TF-IDF cosine) and
canonicalization (large-star/small-star connected components):
known near-duplicate surfaces must cluster, distinct entities must not."""

import pytest
from pyspark.sql import functions as F

from code_index_spark.operators.canon import connected_components
from code_index_spark.operators.extract import extract_triples
from code_index_spark.operators.link import link_mentions
from code_index_spark.operators.materialize import (
    assign_entities,
    build_edges,
    build_vertices,
)
from code_index_spark.schema import TRANSCRIPTS
from code_index_spark.synth import ENTITY_CLUSTERS, synthesize


@pytest.fixture(scope="module")
def linked(spark, synth_corpus):
    transcripts_pdf, _ = synth_corpus
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS)
    triples = extract_triples(tdf).persist()
    pairs = link_mentions(triples).persist()
    comps = connected_components(pairs).persist()
    emap = assign_entities(triples, comps).persist()
    return triples, pairs, comps, emap


def test_near_duplicates_link(linked):
    _, _, _, emap = linked
    surf_to_entity = {r["surface"]: r["entity_id"] for r in emap.collect()}
    for canon, forms in ENTITY_CLUSTERS.items():
        present = [f for f in forms if f in surf_to_entity]
        if len(present) < 2:
            continue
        ids = {surf_to_entity[f] for f in present}
        assert len(ids) == 1, f"{canon}: surfaces {present} split into {ids}"


def test_distinct_entities_do_not_merge(linked):
    _, _, _, emap = linked
    surf_to_entity = {r["surface"]: r["entity_id"] for r in emap.collect()}
    reps = []
    for forms in ENTITY_CLUSTERS.values():
        present = [f for f in forms if f in surf_to_entity]
        if present:
            reps.append(surf_to_entity[present[0]])
    assert len(set(reps)) == len(reps), "different entities merged"


def _naive_edges(triples, emap):
    """The naive relational edge formulation (dedup-groupBy + two
    equi-joins) both edge gates compare the optimized paths against."""
    keyed = (
        triples.join(
            F.broadcast(emap.select(F.col("surface").alias("obj"), "entity_id")),
            "obj", "left",
        )
        .select(
            "conv_id", "turn_idx", "pred",
            F.when(F.col("pred") == "class", F.col("entity_id"))
            .otherwise(F.xxhash64(F.concat_ws(":", "pred", "obj")))
            .alias("node_id"),
            "confidence",
        )
        .filter(F.col("node_id").isNotNull())
        .groupBy("conv_id", "turn_idx", "pred", "node_id")
        .agg(F.max("confidence").alias("conf"))
    )
    ents = keyed.filter(F.col("pred") == "class").select(
        "conv_id", "turn_idx", F.col("node_id").alias("src_entity"),
        F.col("conf").alias("cw"),
    )
    objs = keyed.filter(F.col("pred") != "class")
    ent_obj = ents.join(objs, ["conv_id", "turn_idx"]).select(
        "src_entity", "pred", F.col("node_id").alias("dst_entity"),
        "conv_id", "turn_idx", (F.col("cw") * F.col("conf")).alias("weight"),
    )
    b = ents.select(
        "conv_id", "turn_idx", F.col("src_entity").alias("dst_entity"),
        F.col("cw").alias("cwb"),
    )
    co = ents.join(b, ["conv_id", "turn_idx"]).filter(
        F.col("src_entity") < F.col("dst_entity")
    ).select(
        "src_entity", F.lit("co_mention").alias("pred"), "dst_entity",
        "conv_id", "turn_idx", (F.col("cw") * F.col("cwb")).alias("weight"),
    )
    return ent_obj.unionByName(co)


def test_build_edges_multiset_matches_naive(linked, spark):
    """The single-shuffle in-array build_edges must produce EXACTLY the
    edge multiset of the naive relational formulation (dedup-groupBy +
    two equi-joins) — the invariant every edge-path optimization is
    baked off against (bit_xor of row hashes, order-insensitive)."""
    triples, _, _, emap = linked

    def edge_hash(edges):
        h = F.xxhash64(
            "src_entity", "pred", "dst_entity", "conv_id", "turn_idx",
            F.format_number(F.col("weight"), 9),
        )
        return edges.select(h.alias("h")).agg(
            F.expr("bit_xor(h)").alias("x"), F.count("*").alias("n")
        ).first()

    fast = edge_hash(build_edges(triples, emap))
    naive = edge_hash(_naive_edges(triples, emap))
    assert (fast["n"], fast["x"]) == (naive["n"], naive["x"])


def test_build_edges_agg_matches_rollup(linked, spark):
    """The map-side-combined weighted edge rollup (build_edges_agg)
    must equal the aggregation of the NAIVE relational edge build:
    same distinct-edge set, occurrence counts exact, weights summed
    (compared at fixed precision — float sum order may differ). The
    multiset gate above pins per-row equivalence; this adapts it to
    the weights-summed rollup (round-4 VERDICT #2)."""
    from code_index_spark.operators.materialize import build_edges_agg

    triples, _, _, emap = linked
    agg = build_edges_agg(triples, emap)
    naive = (
        _naive_edges(triples, emap)
        .groupBy("src_entity", "pred", "dst_entity")
        .agg(F.sum("weight").alias("weight"), F.count("*").alias("n_occurrences"))
    )

    def sig(df):
        h = F.xxhash64(
            "src_entity", "pred", "dst_entity", "n_occurrences",
            F.format_number(F.col("weight"), 4),
        )
        return df.select(h.alias("h")).agg(
            F.expr("bit_xor(h)").alias("x"), F.count("*").alias("n")
        ).first()

    a, b = sig(agg), sig(naive)
    assert (a["n"], a["x"]) == (b["n"], b["x"])
    # the rollup is strictly smaller than the provenance-grained table
    assert a["n"] < build_edges(triples, emap).count()


def test_lsh_blocking_recall_sized(spark):
    """Recall gate for the >10⁶-surface blocking path (the regime where
    rescoring cannot recover blocked-out pairs): with banding tables
    sized by tables_for_recall (k=10 at s≥0.4 / 1% target miss),
    candidate_pairs_lsh must retain ≥99% of the exact gram-join pairs.
    Deterministic: signatures are md5-based, no RNG in the engine."""
    import random

    from code_index_spark.functions.minhash import tables_for_recall
    from code_index_spark.operators.link import (
        candidate_pairs_lsh,
        char_ngrams,
        linked_pairs_exact,
        normalize_surface,
    )

    assert tables_for_recall(0.4, 0.01) == 10
    # out-of-range thresholds are caller misconfiguration: raise, don't
    # silently degrade to a single no-guarantee table (round-4 ADVICE)
    import pytest as _pytest

    from code_index_spark.functions.minhash import bands_for_recall

    for bad in (0.0, 1.0, -0.2, 1.5):
        with _pytest.raises(ValueError):
            tables_for_recall(bad, 0.01)
        with _pytest.raises(ValueError):
            bands_for_recall(bad, 0.01, 3)

    rnd = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "handler", "service",
             "index", "parser", "merge", "commit", "table", "stream"]
    base = [f"{rnd.choice(words)}_{rnd.choice(words)}_{i}" for i in range(300)]
    # variant transforms must be injective: duplicate surface strings
    # would double-count grams in the exploded exact join (production
    # can't hit this — mention_surfaces groups by surface first)
    variants = (
        [b + "s" for b in base[:150]]              # near-identical plural
        + [b.replace("_", "_x", 1) for b in base[150:225]]  # one-word edit
    )
    assert len(set(base + variants)) == len(base + variants)
    surfaces = (
        spark.createDataFrame([(s,) for s in base + variants], "surface string")
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
        .localCheckpoint(eager=True)
    )
    exact = {(r["surface_a"], r["surface_b"]) for r in linked_pairs_exact(
        surfaces, surfaces.count(), min_jaccard=0.4, min_cosine=0.0
    ).collect()}
    # candidate_pairs_lsh post-filters candidates at the same exact
    # jaccard threshold, so candidates ⊆ exact and recall = |∩|/|exact|
    cands = {(r["surface_a"], r["surface_b"]) for r in candidate_pairs_lsh(
        surfaces, jaccard_max_dist=0.6
    ).collect()}
    assert len(exact) > 100, "fixture must plant enough true pairs"
    missed = exact - cands
    assert len(missed) / len(exact) <= 0.01, (
        f"blocking missed {len(missed)}/{len(exact)} true pairs"
    )


def test_component_determinism(linked, spark):
    _, pairs, comps, _ = linked
    again = connected_components(pairs)
    a = {(r["surface"], r["component"]) for r in comps.collect()}
    b = {(r["surface"], r["component"]) for r in again.collect()}
    assert a == b


def test_vertices_and_edges_shape(linked):
    triples, _, _, emap = linked
    vertices = build_vertices(emap)
    edges = build_edges(triples, emap)
    v = vertices.agg(
        F.count("*").alias("n"),
        F.countDistinct("entity_id").alias("d"),
    ).first()
    assert v["n"] == v["d"], "entity_id must be unique in vertices"
    e = edges.first()
    assert set(edges.columns) == {
        "src_entity", "pred", "dst_entity", "conv_id", "turn_idx", "weight"
    }
    assert e is not None
    # every edge endpoint that is an entity exists in vertices
    ent_ids = {r["entity_id"] for r in vertices.select("entity_id").collect()}
    srcs = {r["src_entity"] for r in edges.select("src_entity").distinct().collect()}
    assert srcs <= ent_ids


def test_search_index_parity(linked, spark, tmp_path):
    """The materialized serving index (build_search_index +
    search_index_topk) must return IDENTICAL (surface, score) results
    to search_surfaces' per-request rebuild — for in-vocab, mixed,
    OOV-only, and empty queries, and from both the session-lifetime
    (localCheckpoint) and durable (parquet) index forms."""
    from code_index_spark.operators.link import (
        build_search_index,
        search_index_topk,
        search_surfaces,
    )

    triples, _, _, _ = linked
    index = build_search_index(triples)
    disk = build_search_index(triples, path=str(tmp_path / "searchidx"))

    def rows(df):
        return [(r["surface"], r["score"]) for r in df.collect()]

    queries = [
        "acme corp",             # in-vocab
        "Acme-Corp @widget",     # normalization exercises @/-/case
        "zzqqxx",                # OOV-only → empty
        "",                      # empty
        "acme zzqqxx corp",      # mixed: OOV grams must not change ‖q‖
    ]
    for q in queries:
        want = rows(search_surfaces(triples, q, k=10))
        assert rows(search_index_topk(index, q, k=10)) == want
        assert rows(search_index_topk(disk, q, k=10)) == want
    # the in-vocab query actually returns results (non-vacuous parity)
    assert rows(search_index_topk(index, "acme corp", k=10))


# ---------------------------------------------------------------- exact join

def _brute_force_pairs(rows, min_jaccard, min_cosine):
    """All-pairs recomputation of linked_pairs_exact in Python: same
    idf weight, same Jaccard expression, every pair that shares a gram."""
    import math
    from collections import Counter
    from itertools import combinations

    sets = {r["surface"]: set(r["grams"]) for r in rows}
    n = len(sets)
    df = Counter(g for gs in sets.values() for g in gs)
    w = {g: math.log((n + 1) / (d + 1.0)) + 1.0 for g, d in df.items()}
    nrm = {s: math.sqrt(sum(w[g] ** 2 for g in gs)) for s, gs in sets.items()}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        inter = sets[a] & sets[b]
        if not inter:
            continue
        j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
        c = sum(w[g] ** 2 for g in inter) / (nrm[a] * nrm[b])
        if j >= min_jaccard and c >= min_cosine:
            out[(a, b)] = (j, c)
    return out


def _assert_exact_join(surfaces, min_jaccard, min_cosine):
    from code_index_spark.operators.link import linked_pairs_exact

    rows = surfaces.select("surface", "grams").collect()
    want = _brute_force_pairs(rows, min_jaccard, min_cosine)
    out = linked_pairs_exact(surfaces, len(rows), min_jaccard, min_cosine).collect()
    got = {(r["surface_a"], r["surface_b"]): (r["jaccard"], r["cosine"]) for r in out}
    assert len(got) == len(out)  # each pair once
    assert set(got) == set(want)
    for k, (j, c) in want.items():
        assert got[k][0] == j, k  # |∩| and sizes are integers: bit-equal
        assert abs(got[k][1] - c) <= 1e-9, k
    return want


def _gram_surfaces(spark, pairs):
    """Surfaces with explicit gram sets: each (a, b, o) plants x with a
    grams and y with b grams sharing o. The unshared grams are unique
    (df 1) and the shared ones have df 2, so the shared grams sort LAST
    in both vectors — the rarest shared gram sits as deep as the prefix
    and positional bounds allow."""
    rows = []
    for a, b, o in pairs:
        tag = f"{a}_{b}_{o}"
        shared = [f"s{tag}_{i}" for i in range(o)]
        rows.append((f"x{tag}", [f"x{tag}_{i}" for i in range(a - o)] + shared))
        rows.append((f"y{tag}", [f"y{tag}_{i}" for i in range(b - o)] + shared))
    return spark.createDataFrame(rows, "surface string, grams array<string>")


@pytest.mark.parametrize("min_jaccard", [0.4, 1 - 0.7])
@pytest.mark.parametrize("min_cosine", [0.0, 0.5])
def test_exact_join_boundary_sizes(spark, min_jaccard, min_cosine):
    """Gram-set sizes 5/10/15/20, where t·sz is an integer for t = 0.4
    (and for t = 1 − 0.7 = 0.30000000000000004 at 10 and 20), with every
    overlap o: pairs at, above and below the threshold, including y ⊂ x
    at J = t exactly, must match brute force."""
    sizes = (5, 10, 15, 20)
    plan = [(a, b, o) for a in sizes for b in sizes for o in range(1, min(a, b) + 1)]
    want = _assert_exact_join(_gram_surfaces(spark, plan), min_jaccard, min_cosine)
    if min_jaccard == 0.4:  # pairs sit exactly on the threshold
        assert min(j for j, _ in want.values()) == 0.4


def _string_surfaces(spark, names):
    from code_index_spark.operators.link import char_ngrams, normalize_surface

    return (
        spark.createDataFrame([(s,) for s in names], "surface string")
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
    )


def test_exact_join_matches_brute_force(spark):
    """Adversarial surface shapes through the production gram builder:
    1–3-gram surfaces, a stop-gram vocabulary (every surface shares its
    most frequent grams), non-ASCII text, and distinct surfaces that
    normalize to one string (J = 1)."""
    short = ["a", "b", "ab", "ba", "x", "xy", "xyz", "@", "-"]
    stop = ([f"service_handler_{c}{d}" for c in "abcdefgh" for d in "pqrs"]
            + ["service handler", "service_handler_ab_x"])
    unicode_ = ["Zoë Müller", "zoe muller", "Zoë-Müller", "東京タワー", "東京タワ",
                "京都タワー", "Ärzte Ost", "ärzte_ost", "🚀 launch", "🚀launch"]
    same_norm = ["Acme-Corp", "acme_corp", "@acme corp", "ACME  CORP"]
    surfaces = _string_surfaces(spark, short + stop + unicode_ + same_norm)
    for min_cosine in (0.5, 0.0):
        want = _assert_exact_join(surfaces, 0.4, min_cosine)
        assert want[("@acme corp", "Acme-Corp")][0] == 1.0
        assert ("Zoë Müller", "Zoë-Müller") in want
        assert ("東京タワ", "東京タワー") in want
    # min_cosine = 0 returns every pair above the Jaccard threshold
    assert len(want) > len(_brute_force_pairs(
        surfaces.select("surface", "grams").collect(), 0.4, 0.5))
