"""Schema-layer tests on small in-repo archetype fixtures (SURVEY.md
§1.2): YAML archetype → strict JSON Schema → StructType, defaults and
validation. tests/test_schema.py runs the same functions against the
reference's shipped archetypes when that checkout is present; these
fixtures run everywhere."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from fegis_spark.schema import (
    STANDARD_FIELDS,
    apply_defaults,
    create_tool_schemas,
    load_archetype,
    split_arguments,
    tool_struct_type,
    validation_predicate,
)

# Every binding and frame kind §1.2 states: a required parameter (null
# binding), a required-with-default parameter (non-empty string), an
# invalid binding and a name outside the global pool (both skipped),
# the six frame types, an untyped frame and a required frame.
JOURNAL = """
version: "1.0"
title: Journal
archetype_context: A tiny fixture archetype.
parameters:
  Priority:
    type: string
    description: How urgent the entry is
  Mood:
    description: The writer's mood
    examples: [calm, tense]
  Unbound:
    description: Declared but bound by no tool
tools:
  Capture:
    description: Capture one journal entry
    parameters:
      Priority:
      Mood: calm
      Ghost:
      Skipped: 5
    frames:
      tags:
        type: List
      score:
        type: number
        required: true
      done:
        type: boolean
      meta:
        type: object
      count:
        type: integer
      note: {}
"""

# A tool with neither parameters nor frames: only the standard fields,
# and the description falls back to "Tool: <name>".
BARE = """
version: "1.0"
title: Bare
tools:
  Ping: {}
"""


@pytest.fixture
def journal(tmp_path):
    p = tmp_path / "journal.yaml"
    p.write_text(JOURNAL, encoding="utf-8")
    return create_tool_schemas(load_archetype(p))["Capture"]


def test_load_archetype_errors(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_archetype(tmp_path / "missing.yaml")
    bad = tmp_path / "bad.yaml"
    bad.write_text("tools: [unclosed\n", encoding="utf-8")
    with pytest.raises(ValueError):
        load_archetype(bad)


def test_create_tool_schemas_bindings_and_frames(journal):
    schema = journal["inputSchema"]
    props = schema["properties"]
    assert journal["name"] == "Capture"
    assert journal["description"] == "Capture one journal entry"
    assert schema["additionalProperties"] is False
    assert list(props) == [
        *STANDARD_FIELDS, "Priority", "Mood",
        "tags", "score", "done", "meta", "count", "note",
    ]
    assert schema["required"] == sorted(
        [*STANDARD_FIELDS, "Priority", "Mood", "score"]
    )
    assert {n: p["type"] for n, p in props.items()} == {
        "Title": "string", "Content": "string", "Context": "string",
        "Priority": "string", "Mood": "string",
        "tags": "array", "score": "number", "done": "boolean",
        "meta": "object", "count": "integer", "note": "string",
    }
    assert props["Mood"]["default"] == "calm"
    assert props["Mood"]["examples"] == ["calm", "tense"]
    assert "default" not in props["Priority"]


def test_bare_tool_has_only_standard_fields(tmp_path):
    p = tmp_path / "bare.yaml"
    p.write_text(BARE, encoding="utf-8")
    ping = create_tool_schemas(load_archetype(p))["Ping"]
    assert ping["description"] == "Tool: Ping"
    assert list(ping["inputSchema"]["properties"]) == STANDARD_FIELDS
    assert ping["inputSchema"]["required"] == sorted(STANDARD_FIELDS)
    assert split_arguments(ping) == (STANDARD_FIELDS, [])


def test_struct_type_and_split(journal):
    st = tool_struct_type(journal)
    types = {f.name: f.dataType for f in st.fields}
    assert types["tags"] == T.ArrayType(T.StringType())
    assert types["score"] == T.DoubleType()
    assert types["done"] == T.BooleanType()
    assert types["meta"] == T.MapType(T.StringType(), T.StringType())
    assert types["count"] == T.LongType()
    assert types["note"] == T.StringType()
    nullable = {f.name: f.nullable for f in st.fields}
    assert not any(nullable[n] for n in journal["inputSchema"]["required"])
    assert nullable["tags"] and nullable["note"]
    assert split_arguments(journal) == (
        [*STANDARD_FIELDS, "Priority", "Mood"],
        ["tags", "score", "done", "meta", "count", "note"],
    )


def test_defaults_and_validation(spark, journal):
    cols = (
        "id int, Title string, Content string, Context string,"
        " Priority string, Mood string, score double"
    )
    df = spark.createDataFrame(
        [
            (1, "t", "c", "x", "high", None, 0.5),  # Mood filled by default
            (2, "t", "c", "x", "low", "tense", 1.0),
            (3, "", "c", "x", "low", "calm", 1.0),  # empty required string
            (4, "t", "c", "x", None, "calm", 1.0),  # required param missing
            (5, "t", "c", "x", "low", "calm", None),  # required frame missing
        ],
        cols,
    )
    out = (
        apply_defaults(df, journal)
        .select("id", "Mood", validation_predicate(journal).alias("ok"))
        .orderBy("id")
        .collect()
    )
    assert [r.Mood for r in out] == ["calm", "tense", "calm", "calm", "calm"]
    assert [r.ok for r in out] == [True, True, False, False, False]
    # a default never adds a column the frame does not have
    assert apply_defaults(df.drop("Mood"), journal).columns == [
        c for c in df.columns if c != "Mood"
    ]
