"""End-to-end KG-construction pipeline (the flagship job):
transcripts → extract triples → link mentions → canonicalize →
materialize vertices + edges (SURVEY.md §3.1 Spark re-expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.canon import connected_components
from ..operators.extract import extract_triples_sql
from ..operators.link import link_mentions, mention_surfaces
from ..operators.materialize import (
    assign_entities,
    build_edges,
    build_vertices,
    object_vertices,
)


def build_graph(
    transcripts: DataFrame | None,
    min_cosine: float = 0.5,
    triples: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns all intermediate + final tables.

    Pass a pre-extracted (ideally persisted) `triples` DataFrame to
    avoid re-running extraction when composing with other jobs; the
    transcripts are then unused and may be None."""
    if triples is None:
        # the Catalyst extractor: the graph stages never read span
        # offsets, so the whole extraction stays in WholeStageCodegen
        triples = extract_triples_sql(transcripts).persist()
    # the distinct-surface table is computed ONCE (checkpointed — it
    # feeds the LSH self-join, whose plan duplication would otherwise
    # re-analyze the extraction tree per stage) and shared by linking
    # and entity assignment; pair/component tables persist because
    # several downstream branches consume them
    surfaces = mention_surfaces(triples).localCheckpoint(eager=True)
    pairs = link_mentions(triples, min_cosine=min_cosine, surfaces=surfaces).persist()
    components = connected_components(pairs).persist()
    entity_map = assign_entities(triples, components, surfaces=surfaces).persist()
    vertices = build_vertices(entity_map).unionByName(object_vertices(triples))
    edges = build_edges(triples, entity_map)
    return {
        "triples": triples,
        "pairs": pairs,
        "components": components,
        "entity_map": entity_map,
        "vertices": vertices,
        "edges": edges,
    }


def graph_summary(tables: dict[str, DataFrame]) -> DataFrame:
    """Flagship result: triple counts per predicate (A8 metric)."""
    return (
        tables["triples"]
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"),
             F.countDistinct("conv_id").alias("n_convs"))
        .orderBy("pred")
    )
