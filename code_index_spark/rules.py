"""Extraction rule table — the transcript analogue of the reference's
Universal Relationship Schema (queries/queries_minimal.jsonl: 481
records of {language, capture, query, target_capture, priority,
metadata}; loaded by services/query/universal_schema_service.py:40-105).

Where the reference keys rules by *language* and expresses them as
tree-sitter S-expressions, we key by *role* (user/assistant/system/tool
— the transcript's "language") and express them as regexes executed in
an Arrow-batched UDF. The table is data-driven: behaviour changes
without touching the engine, same property as the reference.

Every pattern is deliberately kept in the common subset of Python `re`,
Java regex (Spark `regexp_extract_all`) and RE2 (DuckDB), so individual
categories remain SQL-expressible for the DuckDB oracle parity check.
Java alone also ends lines at \\r, \\u0085, \\u2028 and \\u2029 for ^ $ .;
the Spark side (`extract.rule_matches`) runs each pattern under `(?d)`
(UNIX_LINES) so only \\n does, as in the other two.

The six predicate categories are the reference's six
(queries_minimal.jsonl: class/function/import/call/data/logic), mapped
to transcript semantics per FIXTURES.md §2:

  class    → entity mention        (@handle or TitleCase name)
  function → inline-code identifier (`backtick_code`)
  import   → resource reference     (URL or absolute path)
  call     → tool invocation        (name() token; tool-role rows)
  data     → quoted literal         ("...")
  logic    → conditional clause     (if/when/unless/because ...)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Rule:
    rule_id: str
    roles: tuple[str, ...]  # roles this rule applies to ('*' = all)
    category: str  # predicate: class|function|import|call|data|logic
    pattern: str  # regex; group selects obj, group 0 = whole match
    group: int = 0
    priority: int = 0
    confidence: float = 0.9
    notes: str = ""
    # anchors: plain substrings, at least one of which is NECESSARILY
    # present in any text the pattern can match (a prefilter, never a
    # semantic change — str.find is ~10x faster than a regex scan, so
    # rules skip cheaply on the turns they cannot match). None = no
    # cheap necessary condition exists; always run the regex.
    anchors: tuple[str, ...] | None = None
    _compiled: re.Pattern = field(init=False, repr=False, compare=False, default=None)

    def __post_init__(self):  # compile once; reused across Arrow batches
        object.__setattr__(self, "_compiled", re.compile(self.pattern))

    @property
    def compiled(self) -> re.Pattern:
        return self._compiled

    def may_match(self, text: str) -> bool:
        if self.anchors is None:
            return True
        return any(a in text for a in self.anchors)


ALL = ("user", "assistant", "system", "tool")

# NOTE: patterns avoid lookaround (RE2 has none) and backreferences.
# ASCII-ONLY ASSUMPTION: \b is Unicode-aware in Python `re` but
# ASCII-only in RE2 (DuckDB) and ASCII-by-default in Java regex, so on
# non-ASCII text ('caféABC') the engines disagree about word boundaries.
# Every corpus this table runs on is ASCII by construction; a rule
# intended for non-ASCII text must replace \b with explicit
# [^A-Za-z0-9_] alternation anchors.
RULES: list[Rule] = [
    # class — entity mentions. @handle form and TitleCase multi-word form.
    Rule("class.handle", ALL, "class", r"@[A-Za-z][A-Za-z0-9_-]{2,}", 0, 0, 0.95,
         "entity handle, analogue of (class_declaration name)", anchors=("@",)),
    Rule("class.titlecase", ALL, "class",
         r"\b[A-Z][a-z]+(?: [A-Z][a-z]+)+\b", 0, 1, 0.85,
         "TitleCase multi-word proper name", anchors=None),
    # function — inline code identifiers in backticks.
    Rule("function.backtick", ALL, "function",
         r"`([A-Za-z_][A-Za-z0-9_.]*)`", 1, 0, 0.9,
         "inline code identifier, analogue of (function_definition name)", anchors=("`",)),
    # import — resource references: URL / absolute path.
    Rule("import.url", ALL, "import",
         r"https?://[A-Za-z0-9./_#?&=-]*[A-Za-z0-9/_#?&=-]", 0, 0, 0.95,
         "URL resource reference, analogue of (import_statement); no trailing dot",
         anchors=("http",)),
    Rule("import.path", ALL, "import",
         r"(?:/[A-Za-z0-9_.-]+)+/[A-Za-z0-9_.-]*[A-Za-z0-9_-]", 0, 1, 0.9,
         "absolute filesystem path (≥2 segments, no trailing dot)",
         anchors=("/",)),
    # call — explicit function-call tokens `name()` in any role.
    Rule("call.paren", ALL, "call", r"\b[a-z_][a-z0-9_]{2,}\(\)", 0, 0, 0.9,
         "call token, analogue of (call_expression function: (identifier))",
         anchors=("()",)),
    # data — double-quoted literals (reference: (string_literal) @data).
    Rule("data.quoted", ALL, "data", r"\"([^\"\n]{1,80})\"", 1, 0, 0.9,
         "quoted literal", anchors=('"',)),
    # data — key:value lines in tool output (analogue of the reference's
    # ConfigFileParser fallback, hybrid_parsers.py:167-327).
    Rule("data.kv", ("tool",), "data",
         r"(?m)^[a-z_][a-z0-9_]*=[A-Za-z0-9_.-]{1,120}", 0, 1, 0.85,
         "tool-output key=value line", anchors=("=",)),
    # logic — conditional clause spans.
    Rule("logic.cond", ALL, "logic",
         r"\b(?:if|when|unless|because) [a-z][a-z0-9 _-]{3,60}", 0, 0, 0.8,
         "conditional clause, analogue of (if_statement) @logic",
         anchors=("if", "when", "unless", "because")),
    # class — ticket/issue identifiers (entity-like, e.g. KGP-1234).
    Rule("class.ticket", ALL, "class", r"\b[A-Z]{2,6}-[0-9]{2,6}\b", 0, 2, 0.9,
         "ticket id entity", anchors=("-",)),
    # function — python-style definition in quoted code.
    Rule("function.def", ALL, "function",
         r"\bdef ([a-z_][a-z0-9_]*)\(", 1, 1, 0.95,
         "function definition, direct analogue of (function_definition name)",
         anchors=("def ",)),
    # import — module import statements quoted in conversation.
    Rule("import.module", ALL, "import",
         r"\bimport [a-z_][a-z0-9_.]*", 0, 2, 0.95,
         "module import, direct analogue of (import_statement)", anchors=("import ",)),
    # call — explicit tool markers in assistant turns only (role-keyed
    # rule, like language-specific queries in the reference schema).
    Rule("call.tool_marker", ("assistant",), "call",
         r"\btool:[a-z_]{3,}", 0, 1, 0.95,
         "inline tool-invocation marker", anchors=("tool:",)),
    # data — measurements with units.
    Rule("data.measure", ALL, "data",
         r"\b[0-9]+(?:\.[0-9]+)? ?(?:ms|gb|rows)\b", 0, 2, 0.85,
         "quantity-with-unit literal", anchors=("ms", "gb", "rows")),
    # import — from-import statements (fires alongside import.module on
    # the same span's tail, like overlapping tree-sitter captures).
    Rule("import.from", ALL, "import",
         r"\bfrom [a-z_][a-z0-9_.]* import [a-z_][a-z0-9_]*", 0, 3, 0.95,
         "from-import statement, analogue of (import_from_statement)",
         anchors=("from ",)),
    # logic — negated clause spans.
    Rule("logic.negation", ALL, "logic",
         r"\bnot [a-z][a-z0-9 _-]{3,40}", 0, 1, 0.8,
         "negation clause, analogue of (unary_expression operator: !)",
         anchors=("not ",)),
    # data — version tokens.
    Rule("data.version", ALL, "data",
         r"\bv[0-9]+\.[0-9]+(?:\.[0-9]+)?\b", 0, 3, 0.9,
         "semantic-version literal",
         anchors=tuple(f"v{d}" for d in range(10))),
    # function — qualified method invocations (the bare-call tail also
    # matches call.paren — overlapping captures are both emitted).
    Rule("function.method", ALL, "function",
         r"\b[a-z_][a-z0-9_]*\.[a-z_][a-z0-9_]*\(\)", 0, 2, 0.9,
         "method invocation, analogue of (call_expression function: (attribute))",
         anchors=("()",)),
]


def rules_for_role(role: str) -> list[Rule]:
    """Rules applicable to a role, priority-ordered (stable)."""
    out = [r for r in RULES if role in r.roles]
    out.sort(key=lambda r: (r.priority, r.rule_id))
    return out


# Precomputed role → rules map; broadcast to executors by the extractor.
RULES_BY_ROLE: dict[str, list[Rule]] = {role: rules_for_role(role) for role in ALL}
