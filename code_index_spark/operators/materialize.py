"""Graph materialization — vertices/edges tables (SURVEY.md §7.1 step 7;
reference sink analogue: vector_store.py:337-376 delete-then-upsert of
deterministic-id points, re-expressed as partitioned table writes with
deterministic entity ids so overwrites are idempotent).

vertices(entity_id, canonical_name, surface_forms, mention_count)
edges(src_entity, pred, dst_entity, conv_id, turn_idx, weight)

Edge semantics over transcripts: within a turn, every canonicalized
class-mention (entity) links to every non-class object extracted from
the same turn, with pred = that object's category (call/import/data/
function/logic) — the turn is the reference's "file scope" — plus
pairwise co_mention edges between distinct entities of the turn.
Object literals get deterministic ids (xxhash64 of category:text),
exactly the reference's uuid5-of-content discipline.

Scale notes: the only shuffles are (a) the surface→entity broadcast-able
join (distinct surfaces ≪ mentions) and (b) the per-turn self-join,
which is bounded — keys are (conv_id, turn_idx), cardinality per key is
mentions-per-turn (small constant), so no skew blowup at 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .link import mention_surfaces


def assign_entities(
    triples: DataFrame, components: DataFrame, surfaces: DataFrame | None = None
) -> DataFrame:
    """Every class-mention surface → entity_id (component root for linked
    surfaces, own xxhash64 for singletons). Pass the (checkpointed)
    surfaces table from the linking stage to avoid re-aggregating the
    full triple set."""
    if surfaces is None:
        surfaces = mention_surfaces(triples)
    surfaces = surfaces.select("surface", "mention_count")
    return surfaces.join(components, "surface", "left").select(
        "surface",
        "mention_count",
        F.coalesce("component", F.xxhash64("surface")).alias("entity_id"),
    )


def build_vertices(entity_map: DataFrame) -> DataFrame:
    """Entity vertices; canonical_name = most-mentioned surface
    (ties broken lexicographically — deterministic)."""
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("mention_count"), F.asc("surface")
    )
    ranked = entity_map.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("entity_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("surface"))).alias("canonical_name"),
            F.sort_array(F.collect_set("surface")).alias("surface_forms"),
            F.sum("mention_count").alias("mention_count"),
        )
    )


def build_edges(triples: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Turn-scoped edges: entity→object (pred = object category) and
    entity↔entity co_mention; weight = product of confidences (max
    confidence per distinct endpoint within the turn — deterministic).

    Plan shape (the scale story): the naive formulation is two
    dropDuplicates + two self/equi-joins on (conv_id, turn_idx) — five
    shuffles of the full triple set. Here the full triple set crosses
    the wire AT MOST once: a single groupBy(conv_id, turn_idx) collects
    compact endpoint structs, endpoint dedup (max confidence per
    (pred, node_id)) happens INSIDE the array via sort + fold, and the
    per-turn cross products expand with pure map-side array expressions
    (transform × flatten × explode). When the input is already hash-
    partitioned by conv_id (the pipeline's standing discipline — the
    derived view's row_number window, or any PERSISTED repartition;
    checkpoints drop the metadata) the groupBy reuses that partitioning
    and the stage adds ZERO exchanges — nothing crosses the wire at all
    (asserted: tests/test_plans.py::test_edge_build_reuses_turn_
    partitioning); its cost is then pure compute (collect + array
    expansion), which is why its limiting factor in one shared local
    JVM is memory bandwidth, not shuffle (BENCH.md sf1 notes). Measured
    2-3× faster than the two-shuffle (dedup-groupBy then collect-
    groupBy) formulation at sf0.1, identical output multiset. Per-turn
    fanout is bounded (mentions-per-turn is a small constant), so no
    skew at 10^12 turns."""
    keyed = (
        triples.join(
            F.broadcast(entity_map.select(F.col("surface").alias("obj"), "entity_id")),
            "obj",
            "left",
        )
        .select(
            "conv_id",
            "turn_idx",
            "pred",
            F.when(F.col("pred") == "class", F.col("entity_id"))
            .otherwise(F.xxhash64(F.concat_ws(":", "pred", "obj")))
            .alias("node_id"),
            "confidence",
        )
        .filter(F.col("node_id").isNotNull())
    )
    per_turn = keyed.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(
            F.collect_list(F.struct("pred", "node_id", F.col("confidence").alias("conf")))
        ).alias("srt")
    )
    # in-array dedup keeping max conf: ascending (pred, node_id, conf)
    # sort ⇒ the LAST element of each (pred, node_id) run carries the
    # max; keep x iff its successor starts a new run. O(k) per turn via
    # indexed filter + try_element_at (an aggregate() fold that rebuilds
    # the array per element measured ~30% slower at sf0.1 density).
    dedup = F.filter(
        F.col("srt"),
        lambda x, i: (i == F.size(F.col("srt")) - 1)
        | (F.try_element_at(F.col("srt"), i + 2)["pred"] != x["pred"])
        | (F.try_element_at(F.col("srt"), i + 2)["node_id"] != x["node_id"]),
    )
    pt = per_turn.select("conv_id", "turn_idx", dedup.alias("eps"))
    # eps is already ascending by (pred, node_id, conf) — a filtered
    # subsequence stays sorted, so no re-sort for the i<j pair order
    ents_col = F.filter(F.col("eps"), lambda e: e["pred"] == "class")
    objs_col = F.filter(F.col("eps"), lambda e: e["pred"] != "class")
    pt = pt.select("conv_id", "turn_idx", ents_col.alias("ents"), objs_col.alias("objs"))
    # ONE pass over ents emits both edge families per entity: its
    # ent→obj edges and its co_mention edges to later entities (i < j
    # over the sorted ents array) — was two full transforms + a concat
    # of the two result arrays
    pairs_col = F.flatten(
        F.transform(
            F.col("ents"),
            lambda e, i: F.concat(
                F.transform(
                    F.col("objs"),
                    lambda o: F.struct(
                        e["node_id"].alias("src_entity"),
                        o["pred"].alias("pred"),
                        o["node_id"].alias("dst_entity"),
                        (e["conf"] * o["conf"]).alias("weight"),
                    ),
                ),
                F.transform(
                    F.slice(
                        F.col("ents"), i + 2,
                        F.greatest(F.size(F.col("ents")) - i - 1, F.lit(0)),
                    ),
                    lambda o: F.struct(
                        e["node_id"].alias("src_entity"),
                        F.lit("co_mention").alias("pred"),
                        o["node_id"].alias("dst_entity"),
                        (e["conf"] * o["conf"]).alias("weight"),
                    ),
                ),
            ),
        )
    )
    edges = pt.select(
        "conv_id",
        "turn_idx",
        F.explode(pairs_col).alias("e"),
    )
    return edges.select(
        F.col("e.src_entity").alias("src_entity"),
        F.col("e.pred").alias("pred"),
        F.col("e.dst_entity").alias("dst_entity"),
        "conv_id",
        "turn_idx",
        F.col("e.weight").alias("weight"),
    )


def build_edges_agg(triples: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Weighted edge rollup — the AGGREGATE consumer of build_edges
    (round-4 VERDICT #2): (src_entity, pred, dst_entity, weight,
    n_occurrences) with weight = Σ per-turn weights.

    Why this exists: build_edges keeps (conv_id, turn_idx) provenance,
    so the same (src, pred, dst) edge repeats once per turn it occurs
    in — at sf1 that is 132M rows, and any downstream shuffle consumer
    (degree counts, PageRank, an edge-table write partitioned by src)
    moves all of them. This rollup makes the duplicate collapse happen
    in the map-side PARTIAL aggregation of one hash aggregate: the
    exploded per-turn edges combine to distinct (src, pred, dst)
    triples per input partition BEFORE the exchange, so the wire
    carries the vocab-scale distinct-edge set (~10⁵ rows at sf1)
    instead of the mention-volume multiset (~10⁸). Per-turn provenance
    consumers keep using build_edges; graph analytics and the
    materialized edge table consume this.

    Equivalence to the naive aggregation of the naive edge build is
    pinned by test_build_edges_agg_matches_rollup (weights summed,
    occurrence counts compared exactly)."""
    return (
        build_edges(triples, entity_map)
        .groupBy("src_entity", "pred", "dst_entity")
        .agg(
            F.sum("weight").alias("weight"),
            F.count("*").alias("n_occurrences"),
        )
    )


def object_vertices(triples: DataFrame) -> DataFrame:
    """Literal-object vertices (non-class objects), same vertex schema."""
    return (
        triples.filter(F.col("pred") != "class")
        .groupBy(F.xxhash64(F.concat_ws(":", "pred", "obj")).alias("entity_id"))
        .agg(
            F.min("obj").alias("canonical_name"),
            F.sort_array(F.collect_set("obj")).alias("surface_forms"),
            F.count("*").alias("mention_count"),
        )
    )
