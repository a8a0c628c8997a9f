"""End-to-end KG-construction pipeline (the flagship job):
transcripts → extract triples → link mentions → canonicalize →
materialize vertices + edges (SURVEY.md §3.1 Spark re-expression).

STAGES is the one definition of that chain: each stage's name (the
bench key), the table it produces, how it is built from the tables
before it, and how it is materialized. build_graph, bench.py and the
bench scripts run this list; nothing else decides materialization.
The policy, once:
- triples PERSIST: an InMemoryRelation keeps the extraction's conv_id
  hash partitioning, which build_edges' per-turn groupBy reuses with no
  exchange, while a checkpoint's LogicalRDD drops it
  (tests/test_plans.py pins both);
- surfaces, pairs, components and entity_map CHECKPOINT (eager
  localCheckpoint): they are vocab-scale, and the joins downstream
  (the pair self-join, the CC loop, the edge build's broadcast) copy
  their plans, so a persist would leave Catalyst re-analyzing the
  extraction tree per copy (CLAUDE.md: "persist() caches data, NOT the
  logical plan");
- vertices and edges stay lazy: they are the outputs, and each caller
  decides how to sink them.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

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


class Stage(NamedTuple):
    name: str
    table: str
    # (tables built so far, min_cosine) -> this stage's DataFrame
    build: Callable[[dict[str, DataFrame], float], DataFrame]
    keep: str | None  # "persist", "checkpoint" or None (lazy)


STAGES: tuple[Stage, ...] = (
    # the Catalyst extractor: the graph stages never read span offsets,
    # so the whole extraction stays in WholeStageCodegen
    Stage("extract_triples", "triples",
          lambda t, _: extract_triples_sql(t["transcripts"]), "persist"),
    Stage("graph_surfaces", "surfaces",
          lambda t, _: mention_surfaces(t["triples"]), "checkpoint"),
    Stage("graph_link", "pairs",
          lambda t, c: link_mentions(t["triples"], min_cosine=c, surfaces=t["surfaces"]),
          "checkpoint"),
    Stage("graph_cc", "components",
          lambda t, _: connected_components(t["pairs"]), "checkpoint"),
    Stage("graph_entities", "entity_map",
          lambda t, _: assign_entities(t["triples"], t["components"], surfaces=t["surfaces"]),
          "checkpoint"),
    Stage("graph_vertices", "vertices",
          lambda t, _: build_vertices(t["entity_map"]).unionByName(object_vertices(t["triples"])),
          None),
    Stage("graph_edges", "edges",
          lambda t, _: build_edges(t["triples"], t["entity_map"]), None),
)


def keep(df: DataFrame, how: str | None) -> DataFrame:
    """Apply a stage's materialization policy (module docstring)."""
    if how == "persist":
        return df.persist()
    if how == "checkpoint":
        return df.localCheckpoint(eager=True)
    return df


def run_stage(stage: Stage, tables: dict[str, DataFrame], min_cosine: float = 0.5) -> DataFrame:
    """Build one stage from the tables before it and materialize it."""
    return keep(stage.build(tables, min_cosine), stage.keep)


def build_graph(
    transcripts: DataFrame | None,
    min_cosine: float = 0.5,
    triples: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage's table by name.

    Pass a pre-extracted (ideally persisted) `triples` DataFrame to
    avoid re-running extraction when composing with other jobs; the
    transcripts are then unused and may be None."""
    tables = {"transcripts": transcripts, "triples": triples}
    for stage in STAGES if triples is None else STAGES[1:]:
        tables[stage.table] = run_stage(stage, tables, min_cosine)
    del tables["transcripts"]
    return tables


def graph_summary(tables: dict[str, DataFrame]) -> DataFrame:
    """Flagship result: triple counts per predicate (A8 metric)."""
    return (
        tables["triples"]
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"),
             F.countDistinct("conv_id").alias("n_convs"))
        .orderBy("pred")
    )
