"""Triple extraction — the engine's core flatMap operator (X4 in
SURVEY.md §2.3; reference: relationship_extractor.py:18-130 executes
the 481-rule query schema per language and emits typed blocks whose
identifier is the exact source span text[start_byte:end_byte]).

Here the "language" key is the turn's `role`, the rule table is
rules.RULES (data-driven, broadcast), and each match emits
(subj = "conv_id#turn_idx", pred = category, obj = exact span text)
plus provenance (span offsets, rule id, confidence).

Execution shape and scale notes:
- one `mapInPandas` over the transcripts scan; regexes are compiled
  once per process (module import), not per batch — the analogue of the
  reference's parser LRU cache (parser_manager.py:88-146) without any
  cache bookkeeping;
- no shuffle is introduced: extraction is per-turn, so the stage
  pipelines with the scan and scales linearly with input splits;
- the no-drop invariant of the reference's fallback cascade
  (tree_sitter_coordinator.py:55-118: never error a file) holds — any
  text, including empty/whitespace/9000-char single lines, yields ≥0
  triples and never raises.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, functions as F

from ..rules import ALL, RULES, RULES_BY_ROLE, Rule
from ..schema import TRIPLES_FLAT_DDL

_COLUMNS = [
    "conv_id", "turn_idx", "subj", "pred", "obj",
    "span_start", "span_end", "rule_id", "confidence",
]


def extract_turn(text: str, role: str, rules: list[Rule] | None = None) -> list[tuple]:
    """All rule matches in one turn's text → list of
    (pred, obj, span_start, span_end, rule_id, confidence).

    Each rule is executed independently over the full text, exactly like
    the reference running each tree-sitter query per category
    (relationship_extractor.py:54-79). Matches are emitted in
    (rule order, position) order — deterministic.
    """
    if not text:
        return []
    if rules is None:
        rules = RULES_BY_ROLE.get(role, [])
    out: list[tuple] = []
    for rule in rules:
        if not rule.may_match(text):
            continue
        for m in rule.compiled.finditer(text):
            s, e = m.span(rule.group)
            out.append((rule.category, text[s:e], s, e, rule.rule_id, rule.confidence))
    return out


def extract_triples(transcripts_df):
    """transcripts → triples DataFrame (schema.TRIPLES_FLAT_DDL).

    Batch-internal layout is columnar (per-column python lists →
    pandas dict), not row tuples: tuple construction dominated the
    profile at ~10k turns/s; this path measures ~2x faster."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in _COLUMNS}
            # group by role so the rule list resolves once per group
            for role, grp in pdf.groupby("role", sort=False):
                rules = RULES_BY_ROLE.get(role)
                if not rules:
                    continue
                for conv_id, turn_idx, text in zip(
                    grp["conv_id"].values, grp["turn_idx"].values, grp["text"].values
                ):
                    matches = extract_turn(text, role, rules)
                    if not matches:
                        continue
                    turn_idx = int(turn_idx)
                    n = len(matches)
                    cols["conv_id"] += [conv_id] * n
                    cols["turn_idx"] += [turn_idx] * n
                    cols["subj"] += [f"{conv_id}#{turn_idx}"] * n
                    for c, vals in zip(_COLUMNS[3:], zip(*matches)):
                        cols[c] += vals
            yield pd.DataFrame(cols)

    return transcripts_df.select("conv_id", "turn_idx", "role", "text").mapInPandas(
        run, schema=TRIPLES_FLAT_DDL
    )


def rule_matches() -> Column:
    """Every role-gated rule match of a transcripts row as one exploded
    struct(pred, obj, rule_id, confidence) — the Catalyst generator that
    extract_triples_sql and the windowed counts both select.

    Every rule's regexp_extract_all runs as a codegen'd expression,
    per-rule matches are tagged with (pred, rule_id, confidence) via
    transform(), role-gated arrays are flattened and exploded ONCE."""
    def _tagger(rule: Rule):
        # closure, NOT a 2-arg lambda: transform() treats a second lambda
        # parameter as the element index
        return lambda m: F.struct(
            F.lit(rule.category).alias("pred"),
            m.alias("obj"),
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.confidence).alias("confidence"),
        )

    arrs = []
    for r in RULES:
        # (?d) = Java's UNIX_LINES, so lines end as in re and RE2 (rules.py)
        matches = F.regexp_extract_all("text", F.lit("(?d)" + r.pattern), F.lit(r.group))
        tagged = F.transform(matches, _tagger(r))
        if set(r.roles) != set(ALL):
            empty = F.slice(tagged, 1, 0)  # typed empty array
            tagged = F.when(F.col("role").isin(*r.roles), tagged).otherwise(empty)
        arrs.append(tagged)
    return F.explode(F.flatten(F.array(*arrs)))


def extract_triples_sql(transcripts_df):
    """Pure-Catalyst extraction from the same rule table — the JVM twin
    of extract_triples for consumers that don't need span offsets.

    Single pass over the scan (`rule_matches`). No shuffle, no Python
    worker, no Arrow transfer — the whole stage is WholeStageCodegen
    over the scan. Yields the identical (conv_id, turn_idx, subj, pred,
    obj, rule_id, confidence) multiset as the Python path (asserted by
    tests/test_extract.py); span_start/span_end are the one column pair
    only the mapInPandas path carries (Java regex does not expose match
    offsets through regexp_extract_all)."""
    return transcripts_df.select("conv_id", "turn_idx", rule_matches().alias("m")).select(
        "conv_id",
        "turn_idx",
        F.concat_ws("#", "conv_id", "turn_idx").alias("subj"),
        F.col("m.pred").alias("pred"),
        F.col("m.obj").alias("obj"),
        F.col("m.rule_id").alias("rule_id"),
        F.col("m.confidence").alias("confidence"),
    )
