"""Set-similarity joins over (id, grams) sets — the one core shared by
entity linking (char-3-gram surfaces, operators.link) and corpus dedup
(word-shingle documents, operators.dedupe).

Input contract for every function here: one row per distinct `id`,
`grams` an array of DISTINCT grams (char_ngrams / word_ngrams apply
array_distinct). A gram's document frequency is then its row count
after the explode, and tf ≡ 1.

 - prefix_join: exact Jaccard join (plus TF-IDF cosine when n_docs is
   given) by prefix filtering, *Scalable and Robust Set Similarity
   Join* (ICDE 2018).
 - minhash_join: minhash AND-OR banding blocking, then exact Jaccard
   rescoring of the candidates only (functions.minhash).
 - gram_weights / idf: the one TF-IDF weighting,
   w = idf(df) = ln((N+1)/(df+1)) + 1.

Prefix bound, stated once: with grams ordered rarest first, two sets
of Jaccard >= t share a gram within the first sz − ceil(t·sz) + 1
grams of each (J(x, y) >= t implies |x ∩ y| >= t·|x ∪ y| >= t·|x|).
The ceil is taken of t·sz − 1e-9, so floating point can only LENGTHEN
a prefix past the exact-arithmetic bound, never shorten it: 1 − 0.7 is
0.30000000000000004, and an unguarded ceil(10 · that) = 4 gives a
10-gram prefix one gram shorter than the bound for t = 0.3. A longer
prefix only adds candidates that verification drops.

Positional filter: at a pair's RAREST shared gram, at positions pos_x
and pos_y, every shared gram sits at or after it in both sets, so
|x ∩ y| <= min(|x| − pos_x, |y| − pos_y), and J >= t needs
|x ∩ y| >= t/(1+t)·(|x| + |y|). It keeps the same 1e-9 slack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .minhash import band_collision_pairs, minhash_bands


def idf(df, n_docs: int):
    """ln((N+1)/(df+1)) + 1 over a document-frequency column."""
    return F.log(F.lit(float(n_docs + 1)) / (df + 1.0)) + 1.0


def _terms(sets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(id, gram) rows and (gram, df). Ids and per-set grams are
    distinct (module docstring), so df is a row count: one exchange,
    not a distinct count's two."""
    terms = sets.select("id", F.explode("grams").alias("gram"))
    return terms, terms.groupBy("gram").agg(F.count("*").alias("df"))


def gram_weights(sets: DataFrame, n_docs: int) -> DataFrame:
    """(id, gram, w, nrm): w = idf of the gram over `sets`, nrm = the
    set's weight-vector norm sqrt(Σ w²). For sets a and b,
    cosine = Σ_{g ∈ a∩b} w(g)² / (nrm_a · nrm_b)."""
    terms, df_ = _terms(sets)
    weighted = terms.join(F.broadcast(df_), "gram").withColumn("w", idf(F.col("df"), n_docs))
    return weighted.select(
        "id", "gram", "w",
        F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("id"))).alias("nrm"),
    )


def prefix_join(sets: DataFrame, min_jaccard: float, n_docs: int | None = None) -> DataFrame:
    """Exact set-similarity self-join: every pair id_a < id_b with
    Jaccard >= min_jaccard, as (id_a, id_b, jaccard), plus the TF-IDF
    cosine (idf over n_docs) when n_docs is given. Never builds the
    Σ df·(df−1)/2 gram-collision stream of an all-gram self-join.

    1. Order + vectors. One global gram order, df ascending then the
       gram (rarest first), encoded as one long key = df << 32 | the
       gram's rank among the grams of its df: sorting keys sorts by the
       order, and idf is recomputed from the key alone. Each set
       becomes one row holding its sorted key array v; sizes and norms
       are derived from v, so the postings and both verification
       lookups read ONE aggregate exchange.
    2. Prefix filter (module docstring): only the first
       sz − ceil(t·sz) + 1 keys of each set are posted.
    3. Candidates: the prefix postings self-joined on the key, sid_a <
       sid_b, plus the positional filter. The probe side is spread over
       2× the cores by an explicit repartition on sid_a: AQE does not
       coalesce a user-numbered repartition, and left to AQE the small
       postings input collapses into one task.
    4. Verification: c = array_intersect(va, vb) over the longs;
       |x ∩ y| = size(c) gives exact Jaccard, and Σ_{k∈c} w(k)² the
       cosine numerator over ‖va‖·‖vb‖. A pair is kept only at its
       rarest shared key, c[0] = key: array_intersect keeps va's
       ascending order, and a qualifying pair's rarest shared key lies
       in both prefixes, so each pair survives exactly once without a
       dedupe shuffle.

    The candidate join reads only the prefix postings, Σ (sz −
    ceil(t·sz) + 1) rows instead of Σ sz, and at vocabulary scale the
    planner broadcasts its build side and the vector lookups, so no
    exchange carries a pair stream. Stop-grams sort last and fall out
    of every prefix but those of near-total-overlap sets."""
    terms, df_ = _terms(sets)
    keys = df_.select(
        "gram",
        F.shiftleft("df", 32)
        .bitwiseOR(F.row_number().over(Window.partitionBy("df").orderBy("gram")))
        .alias("key"),
    )
    vec = (
        terms.join(F.broadcast(keys), "gram")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("key")).alias("v"))
    )
    sz = F.size("v")
    post = vec.select(
        "id", sz.alias("sz"),
        F.posexplode(F.slice("v", 1, sz - F.ceil(sz * float(min_jaccard) - 1e-9) + 1))
        .alias("pos", "key"),
    )
    n_parts = 2 * sets.sparkSession.sparkContext.defaultParallelism
    pa = post.select(F.col("id").alias("sid_a"), F.col("sz").alias("za"),
                     F.col("pos").alias("pa"), "key")
    pb = post.select(F.col("id").alias("sid_b"), F.col("sz").alias("zb"),
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
    va = vec.select(F.col("id").alias("sid_a"), F.col("v").alias("va"))
    vb = vec.select(F.col("id").alias("sid_b"), F.col("v").alias("vb"))
    inter = F.size("c")
    pairs = (
        cands.join(va, "sid_a")
        .join(vb, "sid_b")
        # one-row explode: a Generate is a pushdown barrier, so the
        # filters below read c instead of re-running array_intersect
        .select("key", "sid_a", "sid_b", "va", "vb",
                F.explode(F.array(F.array_intersect("va", "vb"))).alias("c"))
        .filter(F.get("c", 0) == F.col("key"))
        .withColumn("jaccard", inter / (F.size("va") + F.size("vb") - inter))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    out = [F.col("sid_a").alias("id_a"), F.col("sid_b").alias("id_b"), "jaccard"]
    if n_docs is None:
        return pairs.select(*out)

    def weight(key):
        return idf(F.shiftright(key, 32), n_docs)

    def sq_norm(v):
        return F.aggregate(v, F.lit(0.0), lambda acc, k: acc + weight(k) * weight(k))

    cosine = sq_norm("c") / F.sqrt(sq_norm("va") * sq_norm("vb"))
    return pairs.select(*out, cosine.alias("cosine"))


def minhash_join(
    sets: DataFrame,
    min_jaccard: float,
    num_tables: int,
    rows_per_band: int = 1,
    max_bucket: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Minhash-blocked Jaccard self-join: (id_a, id_b, jaccard) for the
    pairs id_a < id_b that collide in >= 1 band (minhash_bands →
    band_collision_pairs) and whose exact gram Jaccard, computed on the
    candidates only, is >= min_jaccard. Recall is the banding's: a pair
    at similarity s is missed with probability (1 − s^r)^b.

    The rescore joins are MERGE-hinted. Left to AQE they broadcast the
    whole gram-array table twice (it fits the session's 64 MB estimate
    at bench scale) — two serial driver-built hashed relations of wide
    array rows, measured 3.2-6.5s at sf0.1 vs ~0.8-1.1s for either
    shuffled join. Between the shuffled strategies, sort-merge is the
    one that survives scale: a shuffled-hash build side holding a
    partition's gram ARRAYS cannot spill and was observed to OOM at 2M
    surfaces on the link path ("Can't acquire ... to build hash
    relation"), while SMJ sorts on the long id cheaply and spills
    gracefully; at sf0.1 the two measured within noise (0.77-0.93s vs
    0.83-1.08s)."""
    cands = band_collision_pairs(
        minhash_bands(sets, "id", "grams", num_tables, rows_per_band=rows_per_band),
        max_bucket=max_bucket, num_partitions=num_partitions,
    )
    ga = sets.select(F.col("id").alias("id_a"), F.col("grams").alias("ga")).hint("merge")
    gb = sets.select(F.col("id").alias("id_b"), F.col("grams").alias("gb")).hint("merge")
    inter = F.size(F.array_intersect("ga", "gb"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", inter / (F.size("ga") + F.size("gb") - inter))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
