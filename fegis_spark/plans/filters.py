"""The 7-operator filter algebra → Column compiler (SURVEY.md §2.2, F1-F13).

Faithful Spark re-expression of the reference's filter language:
grammar in fegis/search_tool_schema.json:25-80, validation at
fegis/search/strategies.py:120-158, condition construction at
fegis/search/strategies.py:160-259. A filter spec is
``{"field": f, "operator": op, "value": v}``; all filters AND together
(reference Filter(must=[...]), strategies.py:96-114).

Deliberate, documented semantics (SURVEY.md §7.4):

* ``is_not`` maps Qdrant MatchExcept, which KEEPS points lacking the
  field — so it compiles to null-safe negation (``NOT eqNullSafe``),
  not plain ``!=`` (which drops NULLs).
* ``contains`` is declared as substring match, OR'd over the
  reference's exact three case variants {v, v.lower(), v.capitalize()}
  (Qdrant MatchText is token-based; substring is our spec).
  Python ``str.capitalize`` upper-cases the first char and LOWER-cases
  the rest — not ``initcap``. Fields named in ``text_index_fields``
  instead get true MatchText token semantics via ``match_text`` —
  mirroring Qdrant, where a text payload index switches ``contains``
  from value match to analyzed full-text match.
* ``between`` is inclusive on both ends; before/after are strict.
* timestamp values are ISO-8601 strings with Z→+00:00 normalization.

Everything compiles to native Column expressions, so Catalyst pushes
the predicates into the parquet scan (PushedFilters) — the analog of
the reference's payload indexes.
"""

from __future__ import annotations

from bisect import bisect_right
from datetime import datetime
from typing import Any, Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: API field name → payload column path (reference strategies.py:27-32).
FIELD_MAPPING: dict[str, str] = {
    "agent_id": "meta.agent_id",
    "archetype_title": "meta.archetype_title",
    "archetype_version": "meta.archetype_version",
    "schema_version": "meta.schema_version",
}

#: reference strategies.py:36-59
VALID_OPERATORS = {"is", "is_not", "contains", "after", "before", "between", "any_of"}
VALID_FIELDS = {
    "session_id",
    "tool",
    "agent_id",
    "title",
    "context",
    "sequence_order",
    "memory_id",
    "timestamp",
    "preceding_memory_id",
    "archetype_title",
    "archetype_version",
    "schema_version",
}

_SORTED_VALID_FIELDS = sorted(VALID_FIELDS)
_SORTED_VALID_OPERATORS = sorted(VALID_OPERATORS)


def _parse_iso(value: str) -> datetime:
    return datetime.fromisoformat(value.replace("Z", "+00:00"))


def validate_filters(
    filters: Sequence[Mapping[str, Any]],
    valid_fields: set[str] | None = None,
    timestamp_fields: set[str] = frozenset({"timestamp"}),
) -> None:
    """Analysis-time validation mirroring reference strategies.py:120-158
    (same error messages, raised before any plan is built)."""
    valid_fields = valid_fields if valid_fields is not None else VALID_FIELDS
    for spec in filters:
        for key in ("field", "operator", "value"):
            if key not in spec:
                raise ValueError(f"Filter missing required '{key}' parameter")
        field, operator, value = spec["field"], spec["operator"], spec["value"]
        if field not in valid_fields:
            raise ValueError(f"Invalid field '{field}'. Valid fields: {sorted(valid_fields)}")
        if operator not in VALID_OPERATORS:
            raise ValueError(
                f"Invalid operator '{operator}'. Valid operators: {_SORTED_VALID_OPERATORS}"
            )
        if field in timestamp_fields and operator in ("after", "before"):
            if not isinstance(value, str):
                raise ValueError("Timestamp filter values must be strings in ISO format")
            try:
                _parse_iso(value)
            except ValueError as e:
                raise ValueError(
                    f"Invalid timestamp format '{value}'. "
                    "Use ISO format (e.g., '2024-01-01T00:00:00Z')"
                ) from e


def _ts_lit(value: str) -> Column:
    # naive UTC literal — tables use TIMESTAMP_NTZ under a UTC session
    dt = _parse_iso(value)
    return F.lit(dt.replace(tzinfo=None)).cast("timestamp_ntz")


# Driver-side mirror of the tokenizer (queries/sqlfrag.tokens_sql):
# lowercase; CJK codepoints (unsegmented scripts) become single-char
# tokens; other alphanumeric runs become word tokens. Query strings are tokenized in
# Python, field values in Spark — both must agree.
#
# This table is NOT the Unicode *blocks* — it is the exact codepoint
# set matched by the JVM regex in queries/sqlfrag._CJK_JAVA
# ([\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}], i.e. Unicode
# Script classes), generated by running that regex via Spark rlike over
# every assigned codepoint in planes 0/2/3 and compressing to ranges.
# Script != block in ways that matter: U+30FC 'ー' and U+309B/309C are
# Script=Common (inside the Katakana/Hiragana BLOCKS but not the
# scripts — ー is Lm and joins adjacent word runs; ゛゜ are dropped as
# non-letters), while U+3005 '々', U+3007 '〇' and Han extensions B+
# (U+20000..) ARE Script=Han and must split into single-char tokens.
_CJK_RANGES = (
    (0x1100, 0x11FF),  # Hangul jamo
    (0x2E80, 0x2E99),  # CJK radicals
    (0x2E9B, 0x2EF3),
    (0x2F00, 0x2FD5),  # Kangxi radicals
    (0x3005, 0x3005),  # ideographic iteration mark (Han)
    (0x3007, 0x3007),  # ideographic zero (Han)
    (0x3021, 0x3029),  # Hangzhou numerals (Han)
    (0x302E, 0x302F),  # Hangul tone marks
    (0x3038, 0x303B),  # Hangzhou ten/twenty/thirty + vertical iteration
    (0x3041, 0x3096),  # Hiragana (3040/3097/3098 unassigned; 3099-309C Common/Inherited)
    (0x309D, 0x309F),  # hiragana iteration marks + digraph
    (0x30A1, 0x30FA),  # Katakana (30A0/30FB/30FC are Common)
    (0x30FD, 0x30FF),  # katakana iteration marks + digraph
    (0x3131, 0x318E),  # Hangul compat jamo
    (0x31F0, 0x321E),  # katakana phonetic ext + parenthesized Hangul
    (0x3260, 0x327E),  # circled Hangul
    (0x32D0, 0x32FE),  # circled Katakana
    (0x3300, 0x3357),  # squared Katakana words
    (0x3400, 0x4DBF),  # Han ext A
    (0x4E00, 0x9FFC),  # Han unified (JVM table ends 9FFC, not 9FFF)
    (0xA960, 0xA97C),  # Hangul jamo ext A
    (0xAC00, 0xD7A3),  # Hangul syllables
    (0xD7B0, 0xD7C6),  # Hangul jamo ext B
    (0xD7CB, 0xD7FB),
    (0xF900, 0xFA6D),  # Han compat ideographs
    (0xFA70, 0xFAD9),
    (0xFF66, 0xFF6F),  # halfwidth Katakana (FF65/FF70 are Common)
    (0xFF71, 0xFF9D),
    (0xFFA0, 0xFFBE),  # halfwidth Hangul
    (0xFFC2, 0xFFC7),
    (0xFFCA, 0xFFCF),
    (0xFFD2, 0xFFD7),
    (0xFFDA, 0xFFDC),
    (0x20000, 0x2A6DD),  # Han ext B
    (0x2A700, 0x2B734),  # Han ext C
    (0x2B740, 0x2B81D),  # Han ext D
    (0x2B820, 0x2CEA1),  # Han ext E
    (0x2CEB0, 0x2EBE0),  # Han ext F
    (0x2F800, 0x2FA1D),  # Han compat supplement
    (0x30000, 0x3134A),  # Han ext G
)

_CJK_STARTS = tuple(lo for lo, _ in _CJK_RANGES)
_CJK_ENDS = tuple(hi for _, hi in _CJK_RANGES)


def _is_cjk(ch: str) -> bool:
    cp = ord(ch)
    i = bisect_right(_CJK_STARTS, cp) - 1
    return i >= 0 and cp <= _CJK_ENDS[i]


def analyzer_tokens(s: str) -> list[str]:
    """Python-side analyzer matching queries/sqlfrag.tokens_sql."""
    out: list[str] = []
    run: list[str] = []
    for ch in s.lower():
        if _is_cjk(ch):
            if run:
                out.append("".join(run))
                run = []
            out.append(ch)
        elif ch.isalnum():
            run.append(ch)
        else:
            if run:
                out.append("".join(run))
                run = []
    if run:
        out.append("".join(run))
    return out


def match_text(col: str, query: str) -> Column:
    """Qdrant ``MatchText`` semantics: true when EVERY analyzer token of
    ``query`` appears among the analyzer tokens of field expression
    ``col`` (word
    tokenizer + lowercase — Qdrant's text-index default). This is the
    semantics the reference actually gets on text-indexed fields
    (strategies.py:240-259 emits MatchText); the substring variant in
    compile_condition is our documented default for unindexed fields.

    Evaluates the field tokenization once per row (array_except against
    the query-token literal array), fully codegen'd — no UDF. An empty
    query matches everything (vacuous conjunction), mirroring substring
    ``contains('')``.
    """
    from fegis_spark.operators.dedup import tokens

    qtoks = list(dict.fromkeys(analyzer_tokens(query)))
    if not qtoks:
        return F.lit(True)
    need = F.array(*[F.lit(t) for t in qtoks])
    return F.size(F.array_except(need, tokens(col))) == 0


def compile_condition(
    path: str, field: str, operator: str, value: Any, is_timestamp: bool,
    text_match: bool = False,
) -> Column:
    """One filter spec on column path ``path`` → one boolean Column
    (reference _build_condition, strategies.py:160-259)."""
    col = F.col(path)
    if operator == "is":
        return col == F.lit(value)
    if operator == "is_not":
        # Qdrant MatchExcept keeps points where the field is missing (F2)
        return ~col.eqNullSafe(F.lit(value))
    if operator in ("before", "after"):
        bound = _ts_lit(value) if is_timestamp else F.lit(value)
        return col < bound if operator == "before" else col > bound
    if operator == "between":
        if not isinstance(value, (list, tuple)) or len(value) != 2:
            raise ValueError("'between' operator requires array [min, max]")
        lo, hi = value
        if is_timestamp:
            return col.between(_ts_lit(lo), _ts_lit(hi))
        return col.between(F.lit(lo), F.lit(hi))
    if operator == "any_of":
        if not isinstance(value, (list, tuple)):
            raise ValueError("'any_of' operator requires array")
        return col.isin(*value)
    if operator == "contains":
        if text_match:
            # Text-indexed field → MatchText. The reference's three case
            # variants {v, v.lower(), v.capitalize()} collapse to one:
            # the analyzer lowercases before matching.
            return match_text(path, str(value))
        if not isinstance(value, str):
            return col.cast("string").contains(F.lit(str(value)))
        variants = {value, value.lower(), value.capitalize()}
        conds = [col.contains(F.lit(v)) for v in sorted(variants)]
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out
    raise ValueError(f"Invalid operator '{operator}'")


def compile_filters(
    filters: Sequence[Mapping[str, Any]],
    field_mapping: Mapping[str, str] | None = None,
    valid_fields: set[str] | None = None,
    timestamp_fields: set[str] = frozenset({"timestamp"}),
    text_index_fields: set[str] = frozenset(),
) -> Column:
    """Filter-spec list → single AND'd predicate Column (F8).

    ``field_mapping`` resolves API names to (possibly nested) column
    paths, e.g. agent_id → meta.agent_id (F10); defaults to the
    reference mapping. Returns lit(True) for an empty list (a filtered
    search with no filters matches everything, strategies.py:287).

    ``text_index_fields`` opts fields into token-based ``contains``
    (Qdrant MatchText — what the reference gets on fields with a text
    payload index); all other fields keep the documented substring
    semantics. The 12-field grammar itself is unchanged.
    """
    validate_filters(filters, valid_fields, timestamp_fields)
    mapping = FIELD_MAPPING if field_mapping is None else field_mapping
    pred = F.lit(True)
    for spec in filters:
        field = spec["field"]
        path = mapping.get(field, field)
        cond = compile_condition(
            path, field, spec["operator"], spec["value"], field in timestamp_fields,
            text_match=field in text_index_fields,
        )
        pred = pred & cond
    return pred
