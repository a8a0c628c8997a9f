"""Canonical StructTypes for every table in the pipeline.

Mirrors the reference's data model (SURVEY.md §1) re-shaped to
transcript turns: the reference's CodeBlock (models.py:10-23 in the
reference) becomes the `segments` row; its relationship block
(relationship_extractor.py:114-130) becomes the `triples` row.
All types are plain Spark primitives — no UDTs (BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input: Iceberg/parquet table of conversation transcripts -----------
# (conv_id, turn_idx, role, text, tool, ts) per BASELINE.json input_hint.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# --- triples: the KG facts -----------------------------------------------
# subj = turn scope "conv#idx" (the reference's file_path scope),
# pred ∈ {class,function,import,call,data,logic} (queries_minimal.jsonl
# categories), obj = exact captured span text (reference semantics:
# identifier = text[start_byte:end_byte], relationship_extractor.py:115).
# Flat UDF output (Arrow-friendly: no nested structs across the UDF
# boundary, SURVEY.md §7.3); structs are assembled in SQL afterwards.
TRIPLES_FLAT_DDL = (
    "conv_id string, turn_idx int, subj string, pred string, obj string, "
    "span_start int, span_end int, rule_id string, confidence double"
)

# --- segments: turn text chunked like the reference's LineChunking ------
# (reference chunking.py:25-95: greedy ~1000-char line packing, oversized
#  chunks split with parent_block_id / split_index / split_total).
SEGMENTS_FLAT_DDL = (
    "conv_id string, turn_idx int, seg_type string, start_line int, "
    "end_line int, content string, split_index int, split_total int, "
    "parent_block_id string, segment_hash string"
)
