"""Deterministic synthetic transcript corpus with planted ground truth.

Analogue of the reference's inline-snippet unit tests
(tests/test_treesitter_block_extractor_new.py:25-64 asserts typed
blocks from known code): we synthesize (conv_id, turn_idx, role, text,
tool, ts) rows where every rule-matching span is *planted* at a known
offset, so expected triples are derived from construction — not by
running the extractor — giving an independent P/R ≥ 0.95 oracle
(BASELINE.json north_rule).

Byte-deterministic for a given (seed, n_convs): uses only
random.Random(seed); no wall clock (ts = 2026-01-01 + deterministic
offsets, FIXTURES.md §1).

Includes the reference's edge-case battery (FIXTURES.md §6, mirroring
the no-drop fallback cascade tree_sitter_coordinator.py:55-118):
empty / whitespace-only text, >6000-char turns (split path,
utils.py:19-69 in the reference), giant single lines (hard-split,
utils.py:51-60), duplicate turns, 1-turn conversations, hot entities
in >5% of turns (skew), near-duplicate entity surfaces for linking.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass

import pandas as pd

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "exec", "read_file", "browse")

# Filler vocabulary: guaranteed to match NO extraction rule (all
# lowercase, no quotes/backticks/parens/@/urls/paths, and none of the
# logic keywords if/when/unless/because).
_FILLER = (
    "the pipeline ran fine and results look stable across partitions "
    "we should compare throughput before merging this change "
    "latency stayed flat during the test window yesterday "
    "shuffle volume dropped after tuning partition counts "
    "most rows land in two buckets so salting helps here "
    "output matched on both engines after rounding fixes"
).split()

# Entity surfaces: canonical → list of near-duplicate surface forms
# (exercises MinHash-LSH blocking + cosine linking, FIXTURES.md §1).
ENTITY_CLUSTERS: dict[str, list[str]] = {
    "acme corp": ["Acme Corp", "Acme Corporation", "@acme-corp", "@acme_corp"],
    "globex industries": ["Globex Industries", "Globex Industry", "@globex-industries"],
    "initech systems": ["Initech Systems", "@initech-systems", "Initech System"],
    "umbrella labs": ["Umbrella Labs", "@umbrella-labs", "Umbrella Lab"],
    "stark research": ["Stark Research", "@stark-research"],
    "wayne analytics": ["Wayne Analytics", "@wayne-analytics", "Wayne Analytic"],
}
# hot entity: planted into >5% of turns to exercise skew salting.
HOT_SURFACE = "Acme Corp"

_FUNCS = ["refresh_index", "load_table", "merge_into", "scan_parquet", "link_entities"]
_IDENTS = ["spark.sql", "conv_id", "turn_idx", "mapInPandas", "minhash_lsh"]
_URLS = ["https://acme-docs.example", "https://spark.apache.example", "http://wiki.internal.example"]
_PATHS = ["/data/warehouse/transcripts", "/etc/spark/conf.d", "/var/log/kgp.audit"]
_QUOTED = ["retry with backoff", "exactly once", "green after rerun", "skew on key seven"]
_LOGIC = [
    "if the cache is cold",
    "when the join spills",
    "unless skew gets worse",
    "because partitions were tiny",
]
_KV_KEYS = ["status", "countin", "bytesout", "elapsed", "exitcode"]
_TICKETS = ["KGP-101", "OPS-4422", "DATA-77", "LINK-9000"]
_DEFS = ["rebuild_index", "score_pairs", "emit_edges"]
_MODULES = ["import numpy.linalg", "import pyspark.sql", "import duckdb"]
_TOOLMARKS = ["tool:search", "tool:read_file", "tool:browse"]
_MEASURES = ["125 ms", "3.5 gb", "4400 rows", "17ms"]
_VERSIONS = ["v1.0", "v2.4.1", "v3.2.1", "v10.0.9"]
_NEGATIONS = [
    "not enough executors for this stage",
    "not safe to retry the write",
    "not worth caching small tables",
]
_FROM_IMPORTS = [("pyspark.sql", "functions"), ("numpy", "linalg"), ("duckdb", "sql")]
_METHODS = [("df", "cache"), ("rdd", "collect"), ("sess", "stop")]


@dataclass
class Planted:
    pred: str
    obj: str
    rule_id: str
    confidence: float
    start: int
    end: int


class _TurnBuilder:
    """Assembles one turn's text from pieces, tracking exact offsets."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.len = 0
        self.planted: list[Planted] = []

    def filler(self, rng: random.Random, n: int) -> None:
        words = " ".join(rng.choice(_FILLER) for _ in range(n))
        self._append(words + ". ")

    def plant(self, pred: str, obj: str, rule_id: str, conf: float,
              prefix: str = "", suffix: str = ". ", span_obj: str | None = None,
              span_off: int = 0) -> None:
        """Append `prefix + obj-bearing-text + suffix`; record the span of
        the rule-captured group (span_obj, offset span_off inside obj text)."""
        self._append(prefix)
        target = span_obj if span_obj is not None else obj
        start = self.len + span_off
        self.planted.append(Planted(pred, target, rule_id, conf, start, start + len(target)))
        self._append(obj + suffix)

    def _append(self, s: str) -> None:
        self.parts.append(s)
        self.len += len(s)

    def text(self) -> str:
        return "".join(self.parts)


def _plant_random(b: _TurnBuilder, rng: random.Random, role: str) -> None:
    """Plant one random rule-matching span appropriate for `role`."""
    kind = rng.randrange(17)
    if kind == 11 and role != "assistant":
        kind = 8  # tool markers only match in assistant turns (role-keyed rule)
    if kind >= 13:
        if kind == 13:  # data.version
            b.plant("data", rng.choice(_VERSIONS), "data.version", 0.9,
                    prefix="bumped to ")
        elif kind == 14:  # logic.negation
            b.plant("logic", rng.choice(_NEGATIONS), "logic.negation", 0.8,
                    prefix="careful ")
        elif kind == 15:  # import.from — the tail ALSO matches import.module
            mod, name = rng.choice(_FROM_IMPORTS)
            full = f"from {mod} import {name}"
            b.planted.append(Planted(
                "import", f"import {name}", "import.module", 0.95,
                b.len + len("uses ") + len(f"from {mod} "),
                b.len + len("uses ") + len(full),
            ))
            b.plant("import", full, "import.from", 0.95, prefix="uses ",
                    suffix=" ok. ")
        else:  # function.method — the bare-call tail ALSO matches call.paren
            obj, meth = rng.choice(_METHODS)
            full = f"{obj}.{meth}()"
            b.planted.append(Planted(
                "call", f"{meth}()", "call.paren", 0.9,
                b.len + len("then ") + len(obj) + 1,
                b.len + len("then ") + len(full),
            ))
            b.plant("function", full, "function.method", 0.9, prefix="then ")
        return
    if kind >= 8:
        if kind == 8:  # class.ticket
            b.plant("class", rng.choice(_TICKETS), "class.ticket", 0.9,
                    prefix="filed ")
        elif kind == 9:  # function.def (group 1 = name)
            name = rng.choice(_DEFS)
            b.plant("function", f"def {name}(x): ok", "function.def", 0.95,
                    prefix="snippet ", span_obj=name, span_off=4)
        elif kind == 10:  # import.module (match must stop before suffix dot)
            b.plant("import", rng.choice(_MODULES), "import.module", 0.95,
                    prefix="then ", suffix=" ok. ")
        elif kind == 11:  # call.tool_marker (assistant only)
            b.plant("call", rng.choice(_TOOLMARKS), "call.tool_marker", 0.95,
                    prefix="via ")
        else:  # data.measure
            b.plant("data", rng.choice(_MEASURES), "data.measure", 0.85,
                    prefix="took ")
        return
    if kind == 0:  # class.titlecase entity
        surf = rng.choice(rng.choice(list(ENTITY_CLUSTERS.values())))
        if surf.startswith("@"):
            b.plant("class", surf, "class.handle", 0.95, prefix="ping ")
        else:
            b.plant("class", surf, "class.titlecase", 0.85, prefix="met with ")
    elif kind == 1:  # hot entity (skew)
        b.plant("class", HOT_SURFACE, "class.titlecase", 0.85, prefix="escalated to ")
    elif kind == 2:  # function.backtick
        ident = rng.choice(_IDENTS)
        b.plant("function", f"`{ident}`", "function.backtick", 0.9,
                prefix="see ", span_obj=ident, span_off=1)
    elif kind == 3:  # import.url
        b.plant("import", rng.choice(_URLS), "import.url", 0.95, prefix="docs at ")
    elif kind == 4:  # import.path
        b.plant("import", rng.choice(_PATHS), "import.path", 0.9, prefix="wrote to ")
    elif kind == 5:  # call.paren
        fn = rng.choice(_FUNCS)
        b.plant("call", f"{fn}()", "call.paren", 0.9, prefix="then ran ")
    elif kind == 6:  # data.quoted
        lit = rng.choice(_QUOTED)
        b.plant("data", f'"{lit}"', "data.quoted", 0.9,
                prefix="flag set to ", span_obj=lit, span_off=1)
    else:  # logic.cond
        b.plant("logic", rng.choice(_LOGIC), "logic.cond", 0.8, prefix="retry ")


def _tool_output(b: _TurnBuilder, rng: random.Random) -> None:
    """key=value tool output lines (data.kv rule, tool role only)."""
    if b.len:  # (?m)^ anchors each kv line — must start on its own line
        b._append("\n")
    n = rng.randrange(2, 5)
    for i in range(n):
        key = rng.choice(_KV_KEYS)
        line = f"{key}={rng.randrange(10_000)}"
        start = b.len
        b.planted.append(Planted("data", line, "data.kv", 0.85, start, start + len(line)))
        b._append(line + ("\n" if i < n - 1 else ""))


def synthesize(
    n_convs: int = 50,
    seed: int = 42,
    long_conv_turns: int = 0,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return (transcripts_pdf, expected_triples_pdf), both deterministic.

    transcripts: conv_id, turn_idx, role, text, tool, ts
    expected:    conv_id, turn_idx, subj, pred, obj, span_start, span_end,
                 rule_id, confidence
    """
    rng = random.Random(seed)
    base_ts = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
    t_rows: list[tuple] = []
    e_rows: list[tuple] = []
    global_turn = 0

    for ci in range(n_convs):
        conv_id = f"conv-{ci:08d}"
        # ~E[8] turns/conv; conv 7 is the 1-turn edge case; optional long conv.
        if ci == 7:
            n_turns = 1
        elif long_conv_turns and ci == 11:
            n_turns = long_conv_turns
        else:
            n_turns = rng.randrange(4, 13)
        for ti in range(n_turns):
            role = ROLES[(ci + ti) % 4]
            tool = TOOLS[(ci * 7 + ti) % 4] if role == "tool" else None
            b = _TurnBuilder()
            global_turn += 1
            # edge cases, deterministic cadence (FIXTURES.md §6)
            if global_turn % 97 == 0:
                text = ""  # empty turn — must yield zero triples, no error
            elif global_turn % 101 == 0:
                text = "   \n\t  "  # whitespace-only
            elif global_turn % 499 == 0:
                # >6000-char turn: exercises split_content path
                b.filler(rng, 4)
                _plant_random(b, rng, role)
                while b.len < 6500:
                    b.filler(rng, 12)
                text = b.text()
            elif global_turn % 997 == 0:
                # giant single line (hard-split path): one 9000-char word
                text = "x" * 9000
            else:
                b.filler(rng, rng.randrange(3, 9))
                for _ in range(rng.randrange(0, 4)):
                    _plant_random(b, rng, role)
                    if rng.random() < 0.5:
                        b.filler(rng, rng.randrange(2, 6))
                # hot entity beyond the random planting: ~4% extra (skew)
                if rng.random() < 0.04:
                    b.plant("class", HOT_SURFACE, "class.titlecase", 0.85,
                            prefix="cc ")
                # tool output last: kv lines are line-anchored and must not
                # be followed by same-line prose
                if role == "tool" and rng.random() < 0.7:
                    _tool_output(b, rng)
                text = b.text()
            ts = base_ts + _dt.timedelta(seconds=ci * 3600 + ti * 60)
            t_rows.append((conv_id, ti, role, text, tool, ts))
            subj = f"{conv_id}#{ti}"
            for p in b.planted:
                e_rows.append((conv_id, ti, subj, p.pred, p.obj, p.start, p.end,
                               p.rule_id, p.confidence))

    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    # duplicate-turn edge case: clone conv 3's turns into a new conv id
    dup = transcripts[transcripts.conv_id == "conv-00000003"].copy()
    if len(dup):
        dup["conv_id"] = "conv-dup-00000003"
        transcripts = pd.concat([transcripts, dup], ignore_index=True)
        dupe = [r for r in e_rows if r[0] == "conv-00000003"]
        for r in dupe:
            e_rows.append(("conv-dup-00000003", r[1],
                           f"conv-dup-00000003#{r[1]}", *r[3:]))

    expected = pd.DataFrame(
        e_rows,
        columns=["conv_id", "turn_idx", "subj", "pred", "obj",
                 "span_start", "span_end", "rule_id", "confidence"],
    )
    return transcripts, expected


def transcripts_df(spark, n_convs: int = 50, seed: int = 42, long_conv_turns: int = 0):
    """Synthetic transcripts as a Spark DataFrame (schema.TRANSCRIPTS)."""
    from .schema import TRANSCRIPTS

    pdf, _ = synthesize(n_convs, seed, long_conv_turns)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)
