"""Filter-compiler + projection-view tests on the memories fixture
(the reference's native payload shape — exercises F10 meta.* mapping
and all four views)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fegis_spark.functions.views import RESULT_VIEWS, apply_view
from fegis_spark.plans.filters import compile_filters, validate_filters


def test_meta_field_mapping(memories):
    pred = compile_filters(
        [{"field": "agent_id", "operator": "is", "value": "agent-1"}]
    )
    got = memories.filter(pred).select("session_id").distinct().collect()
    assert {r.session_id for r in got} == {"session-1"}


def test_is_not_keeps_nulls(memories):
    # title is NULL on even sequence orders; is_not must keep those rows
    pred = compile_filters([{"field": "title", "operator": "is_not", "value": "Title 0.1"}])
    kept = memories.filter(pred)
    assert kept.count() == memories.count() - 1
    assert kept.filter(F.col("title").isNull()).count() > 0


def test_timestamp_between_and_any_of(memories):
    pred = compile_filters(
        [
            {
                "field": "timestamp",
                "operator": "between",
                "value": ["2024-01-01T12:00:00Z", "2024-01-01T12:30:00Z"],
            },
            {
                "field": "tool",
                "operator": "any_of",
                "value": ["UncertaintyNavigator", "BiasDetector"],
            },
        ]
    )
    rows = memories.filter(pred).collect()
    assert rows and all(r.tool == "UncertaintyNavigator" for r in rows)
    assert all(r.sequence_order <= 3 for r in rows)


def test_contains_case_variants(memories):
    pred = compile_filters([{"field": "context", "operator": "contains", "value": "CTX"}])
    # variants {CTX, ctx, Ctx}: lowercase 'ctx 0' matches via lower()
    assert memories.filter(pred).count() == memories.count()


def test_sequence_order_numeric_ops(memories):
    pred = compile_filters(
        [{"field": "sequence_order", "operator": "after", "value": 3}]
    )
    assert memories.filter(pred).count() == 3 * 2


def test_validation_errors():
    with pytest.raises(ValueError, match="missing required 'value'"):
        validate_filters([{"field": "tool", "operator": "is"}])
    with pytest.raises(ValueError, match="Invalid field"):
        validate_filters([{"field": "bogus", "operator": "is", "value": 1}])
    with pytest.raises(ValueError, match="Invalid operator"):
        validate_filters([{"field": "tool", "operator": "matches", "value": 1}])
    with pytest.raises(ValueError, match="ISO format"):
        validate_filters([{"field": "timestamp", "operator": "after", "value": 5}])
    with pytest.raises(ValueError, match="Invalid timestamp format"):
        validate_filters([{"field": "timestamp", "operator": "before", "value": "xx"}])
    with pytest.raises(ValueError, match="requires array"):
        compile_filters([{"field": "tool", "operator": "any_of", "value": "x"}])
    with pytest.raises(ValueError, match=r"\[min, max\]"):
        compile_filters([{"field": "sequence_order", "operator": "between", "value": [1]}])


def _scored(memories):
    return memories.withColumn("score", F.lit(0.9))


def test_view_columns(memories):
    scored = _scored(memories)
    ref = F.lit(dt.datetime(2024, 2, 1, 0, 0, 0)).cast("timestamp_ntz")
    for view, fields in RESULT_VIEWS.items():
        out = apply_view(scored, view, ref_ts=ref)
        assert out.columns == fields, view


def test_graph_view_dotted_meta(memories):
    out = apply_view(_scored(memories), "graph", ref_ts=F.lit(dt.datetime(2024, 2, 1)).cast("timestamp_ntz"))
    row = out.filter(F.col("session_id") == "session-1").orderBy("sequence_order").first()
    assert row["meta.agent_id"] == "agent-1"
    assert row["meta.archetype_title"] == "default"
    assert row["preceding_memory_id"] is None  # chain head


def test_summary_view_computed_fields(memories):
    out = apply_view(
        _scored(memories), "summary", ref_ts=F.lit(dt.datetime(2024, 1, 31, 12, 0)).cast("timestamp_ntz")
    )
    rows = {r.memory_id: r for r in out.collect()}
    long_mem = rows["session-0-mem-2"]  # even i -> long content
    assert long_mem.content_preview.endswith(".") or long_mem.content_preview.endswith("...")
    assert len(long_mem.content_preview) <= 150
    assert rows["session-0-mem-1"].relative_time == "4 weeks ago"


def test_unknown_view_raises(memories):
    with pytest.raises(ValueError, match="Unknown view"):
        apply_view(_scored(memories), "everything")


class TestMatchText:
    """Token-based contains (Qdrant MatchText on text-indexed fields)."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick data pipeline"),   # tokens apart → match
                (2, "thedata"),                   # substring-ish, no tokens
                (3, "The data!"),                 # punctuation boundaries
                (4, "nothing relevant"),
                (5, "模型 data 训练 the"),          # CJK + latin mix
            ],
            "doc_id int, text string",
        )

    def _ids(self, docs, pred):
        return sorted(r.doc_id for r in docs.filter(pred).collect())

    def test_token_vs_substring(self, docs):
        tok = compile_filters(
            [{"field": "text", "operator": "contains", "value": "the data"}],
            valid_fields={"text"}, timestamp_fields=set(),
            text_index_fields={"text"},
        )
        sub = compile_filters(
            [{"field": "text", "operator": "contains", "value": "the data"}],
            valid_fields={"text"}, timestamp_fields=set(),
        )
        assert self._ids(docs, tok) == [1, 3, 5]
        assert self._ids(docs, sub) == [3]  # 'The data!' via lower variant

    def test_case_variants_collapse(self, docs):
        for q in ("THE DATA", "The Data", "the data"):
            pred = compile_filters(
                [{"field": "text", "operator": "contains", "value": q}],
                valid_fields={"text"}, timestamp_fields=set(),
                text_index_fields={"text"},
            )
            assert self._ids(docs, pred) == [1, 3, 5]

    def test_cjk_codepoint_tokens(self, docs):
        from fegis_spark.plans.filters import analyzer_tokens, match_text

        assert analyzer_tokens("模型data") == ["模", "型", "data"]
        assert self._ids(docs, match_text("text", "模 data")) == [5]

    def test_empty_query_matches_all(self, docs):
        from fegis_spark.plans.filters import match_text

        assert self._ids(docs, match_text("text", "  !! ")) == [1, 2, 3, 4, 5]


def test_python_analyzer_matches_spark_tokens(spark):
    """plans.filters.analyzer_tokens (query side, driver Python) and
    queries/sqlfrag.tokens_sql (field side, JVM codegen) must tokenize
    identically — MatchText correctness depends on the lockstep."""
    import random

    from fegis_spark.operators.dedup import tokens
    from fegis_spark.plans.filters import analyzer_tokens

    rng = random.Random(23)
    pools = [
        "abcXYZ012",            # latin alnum
        " \t\n.,!?-_#@'\"",     # separators
        "模型训练数据是好的",       # Han
        "ひらがなカタカナ",        # kana
        "한국어조사",             # Hangul
        "éüñÅßçøâ",             # latin diacritics (letters, not CJK)
        "αβγДЖ",                # greek/cyrillic
        "ー゛゜〆・",             # Common-script chars inside CJK blocks
        "々〇〻ゝヽ",             # Script=Han/kana marks outside naive blocks
        "\U00020000\U0002A700\U00030000",  # Han ext B/C/G (astral)
        "ﾊﾝｶｸ한ᄀㆍ",            # halfwidth katakana + Hangul variants
    ]
    alphabet = "".join(pools)
    cases = ["", " ", "a", "。", "a。b"]
    # the ADVICE-flagged script-vs-block divergences, pinned explicitly:
    # ー is Script=Common category Lm -> joins adjacent word runs;
    # ゛゜ are Common Sk -> dropped as separators; 々/〇/ext-B are
    # Script=Han -> single-char tokens.
    cases += [
        "xーy", "゛", "x゛y", "佐々木", "〇八", "a々b",
        "\U00020000x\U00020001", "テーブル", "データ分析",
    ]
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, s string")
    got = {
        r.i: list(r.t)
        for r in df.select("i", tokens("s").alias("t")).collect()
    }
    for i, s in enumerate(cases):
        assert got[i] == analyzer_tokens(s), (s, got[i], analyzer_tokens(s))
