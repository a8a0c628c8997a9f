"""Turn segmentation — Spark re-expression of the reference's line
chunking (X1/X2 in SURVEY.md §2.3).

Semantics matched to the reference spec:
- greedy line packing to max_block_chars=1000 with ×1.15 tolerance,
  flush on overflow or last line (reference chunking.py:34-95);
- chunks shorter than min_block_chars=50 after strip are dropped
  (chunking.py:52);
- oversized chunks split at line boundaries to ≤1000 chars, monster
  single lines hard-split every 1000 chars (utils.py:19-69, 51-60);
- split parts carry 1-based split_index / split_total and a
  parent_block_id "chunk_<start>_<end>" (chunking.py:59-75);
- segment_hash = text_hash + start_line (+ "_partN") (chunking.py:62,78).

Paragraph and line-window segments follow the same row, split and id
convention with their own parent prefix and hash suffix (`_IDS`); every
segment type goes through the one emitter `_emit`, and the turn's md5
is computed at most once, on its first emitted row.

Execution shape: one `mapInPandas` over the transcripts table — a
flatMap (1 turn → N segment rows) that stays Arrow-batched end to end.
No shuffle: segmentation is embarrassingly parallel per turn, so the
plan is scan → project → mapInPandas with zero exchanges; at 100 TB it
scales linearly with input splits.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable, Iterator
from functools import lru_cache
from operator import itemgetter
from typing import Any

import pandas as pd

from ..schema import SEGMENTS_FLAT_DDL

MIN_BLOCK_CHARS = 50
MAX_BLOCK_CHARS = 1000
TOLERANCE = 1.15

# X9 hybrid structured parser: a run of ≥ MIN_KV_RUN consecutive
# key=value lines is a typed section (reference hybrid_parsers.py:167-327
# parses config-like content into section blocks instead of generic
# chunks). Same line shape as the data.kv extraction rule.
_KV_LINE = re.compile(r"^[a-z_][a-z0-9_]*=[^\n]+$")
MIN_KV_RUN = 2

# X8 basic-line fallback: when the greedy chunker drops a turn entirely
# (all flushed chunks under MIN_BLOCK_CHARS), emit fixed line windows so
# no non-empty text is left unrepresented (reference
# block_extractor.py:212-262's 5-line fallback branch).
FALLBACK_WINDOW_LINES = 5

# re.ASCII: the SQL twin runs Java/RE2 \s (ASCII-only) — without the
# flag, Python's Unicode-aware \s classifies a U+00A0/U+2028-only turn
# 'empty' while SQL says 'prose' (cross-engine parity, see
# tests/test_cross_engine.py's non-ASCII-whitespace case)
_KV_ANY = re.compile(r"^[a-z_][a-z0-9_]*=[^\n]+$", re.M | re.ASCII)
_EMPTY = re.compile(r"\s*", re.ASCII)
_URL = re.compile(r"https?://")

# seg_type → (parent_block_id prefix of split parts, segment_hash
# suffix); kv_section rows are never split: the kv_section_stats oracle
# counts one row per run
_IDS = {
    "chunk": ("chunk_", ""),
    "paragraph": ("para_", "_para"),
    "line_window": ("win_", "_win"),
    "kv_section": (None, "_kv"),
}

_COLUMNS = [
    "conv_id", "turn_idx", "seg_type", "start_line", "end_line",
    "content", "split_index", "split_total", "parent_block_id",
    "segment_hash",
]
_SEG_FIELDS = itemgetter(*_COLUMNS[2:])


def content_type_py(text: str | None) -> str:
    """Python twin of functions.textfns.content_type — same classes,
    same order, same regexes (ASCII \\s, matching Java's default) —
    used to route per-turn segmentation inside the Arrow batches (the
    Spark Column version can't run there). Kept in lockstep with the
    SQL version; the cross-engine parity test pins both against the
    same inputs, including non-ASCII whitespace."""
    t = text or ""
    if _EMPTY.fullmatch(t):
        return "empty"
    if _KV_ANY.search(t):
        return "kv"
    if "```" in t:
        return "code"
    if len(_URL.findall(t)) >= 2:
        return "url_heavy"
    return "prose"


def split_to_limit(content: str, max_chars: int = MAX_BLOCK_CHARS) -> list[str]:
    """Split content into ≤max_chars pieces at line boundaries; lines
    longer than max_chars are hard-split. Lossless (spec of the
    reference's utils.split_content)."""
    if len(content) <= max_chars:
        return [content]
    pieces: list[str] = []
    pending: list[str] = []
    pending_len = 0
    for line in content.split("\n"):
        need = len(line) + 1
        if pending and pending_len + need > max_chars:
            pieces.append("\n".join(pending))
            pending, pending_len = [], 0
        if need > max_chars:
            if pending:
                pieces.append("\n".join(pending))
                pending, pending_len = [], 0
            pieces.extend(line[i : i + max_chars] for i in range(0, len(line), max_chars))
        else:
            pending.append(line)
            pending_len += need
    if pending:
        pieces.append("\n".join(pending))
    return pieces


@lru_cache(maxsize=1)
def _text_hash(text: str) -> str:
    # one entry: every segment of a turn is emitted before the next
    # turn's, so a turn's md5 is computed once however many rows it has
    return hashlib.md5(text.encode("utf-8", errors="ignore")).hexdigest()


def _emit(out: list, seg_type: str, text: str, start: int, end: int, content: str) -> None:
    """Append the segment row for lines start..end (1-based), or — past
    MAX_BLOCK_CHARS — its lossless split_to_limit parts, each carrying
    split_index/split_total, the parent block id and a `_partN` hash."""
    prefix, suffix = _IDS[seg_type]
    seg_hash = f"{_text_hash(text)}{start}{suffix}"
    parts = split_to_limit(content) if prefix else [content]
    if len(parts) == 1:
        out.append(dict(seg_type=seg_type, start_line=start, end_line=end,
                        content=content, split_index=None, split_total=None,
                        parent_block_id=None, segment_hash=seg_hash))
        return
    parent = f"{prefix}{start}_{end}"
    for i, part in enumerate(parts, 1):
        out.append(dict(seg_type=seg_type, start_line=start, end_line=end,
                        content=part, split_index=i, split_total=len(parts),
                        parent_block_id=parent, segment_hash=f"{seg_hash}_part{i}"))


def _runs(lines: list[str], pred: Callable[[str], Any]) -> Iterator[tuple[int, int]]:
    """(start, end) 1-based line spans of the maximal runs of lines
    satisfying pred."""
    start = None
    for i, line in enumerate(lines):
        if pred(line):
            if start is None:
                start = i
        elif start is not None:
            yield start + 1, i
            start = None
    if start is not None:
        yield start + 1, len(lines)


def chunk_turn(text: str) -> list[dict[str, Any]]:
    """Greedy line-packing chunker for one turn's text (pure function)."""
    out: list[dict[str, Any]] = []
    if text is None:
        return out
    lines = text.split("\n")
    start, size = 0, 0
    for i, line in enumerate(lines):
        size += len(line) + 1
        if size >= MAX_BLOCK_CHARS * TOLERANCE or i == len(lines) - 1:
            content = "\n".join(lines[start : i + 1])
            if len(content.strip()) >= MIN_BLOCK_CHARS:
                _emit(out, "chunk", text, start + 1, i + 1, content)
            start, size = i + 1, 0
    return out


def kv_sections(text: str) -> list[dict[str, Any]]:
    """X9: typed kv_section segments for runs of consecutive key=value
    lines. Additive to the generic chunks — structured content gets a
    typed segment AND stays inside its chunk (lossless both ways)."""
    out: list[dict[str, Any]] = []
    if not text or "=" not in text:
        return out
    lines = text.split("\n")
    for start, end in _runs(lines, _KV_LINE.match):
        if end - start + 1 >= MIN_KV_RUN:
            _emit(out, "kv_section", text, start, end, "\n".join(lines[start - 1 : end]))
    return out


def paragraphs(text: str) -> list[dict[str, Any]]:
    """Paragraph-block segmentation for prose-classified turns — the
    PlainTextParser analogue (reference hybrid_parsers.py:63-165, which
    routes plain text to its own block parser instead of the generic
    chunker). Blocks are maximal runs of non-blank lines; blocks under
    MIN_BLOCK_CHARS after strip are dropped (reference min-chunk
    discipline); blocks over MAX_BLOCK_CHARS split at line boundaries
    with the same split_index/parent convention as chunk splits."""
    out: list[dict[str, Any]] = []
    if not text:
        return out
    lines = text.split("\n")
    for start, end in _runs(lines, str.strip):
        content = "\n".join(lines[start - 1 : end])
        if len(content.strip()) >= MIN_BLOCK_CHARS:
            _emit(out, "paragraph", text, start, end, content)
    return out


def line_windows(text: str, window: int = FALLBACK_WINDOW_LINES) -> list[dict[str, Any]]:
    """X8: fixed line-window fallback segments. A window longer than
    MAX_BLOCK_CHARS (pathological long lines in sub-min-chunk turns) is
    split into additional line_window parts via split_to_limit — never
    truncated — so the fallback's no-drop invariant holds and
    (start_line, end_line) always span exactly the lines whose content
    the parts jointly carry (same split convention as chunk splits)."""
    out: list[dict[str, Any]] = []
    if not text:
        return out
    lines = text.split("\n")
    for s in range(0, len(lines), window):
        window_lines = lines[s : s + window]
        content = "\n".join(window_lines)
        if content.strip():
            _emit(out, "line_window", text, s + 1, s + len(window_lines), content)
    return out


def segment_turn(text: str) -> list[dict[str, Any]]:
    """Full cascade for one turn — the reference's route-by-type
    parse-else-chunk-else-window chain (tree_sitter → fallback parser →
    generic chunking → line windows):
    - prose-classified turns go to the paragraph parser (PlainTextParser
      analogue), falling back to greedy chunks when no paragraph
      survives the min-chars gate;
    - every other type gets greedy chunks;
    - kv runs additionally get typed kv_section segments (X9, additive);
    - the fixed line-window fallback (X8) catches turns everything else
      dropped, so no non-empty turn goes unrepresented."""
    segs = paragraphs(text) if content_type_py(text) == "prose" else []
    if not segs:
        segs = chunk_turn(text)
    segs += kv_sections(text)
    return segs or line_windows(text)


def segment(transcripts_df):
    """transcripts → segments (flatMap via mapInPandas, Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (conv_id, int(turn_idx), *_SEG_FIELDS(seg))
                for conv_id, turn_idx, text in zip(
                    pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
                )
                for seg in segment_turn(text)
            ]
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return transcripts_df.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=SEGMENTS_FLAT_DDL
    )
