"""End-to-end SearchMemory API parity tests: ingest a corpus with the
pipeline, then drive every search_type/detail through search_memory —
the full reference lifecycle (§3.1 ingest → §3.2 query) in-engine."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fegis_spark.api import embed_query, search_memory
from fegis_spark.functions.views import RESULT_VIEWS
from fegis_spark.ingest import ingest_batch


@pytest.fixture(scope="module")
def corpus(spark):
    t0 = dt.datetime(2024, 1, 1)
    topics = [
        "spark runs distributed queries over columnar data",
        "cats and dogs are common household pets",
        "vector embeddings power semantic search engines",
        "the weather today is sunny with light wind",
        "query optimizers rewrite logical plans into physical plans",
    ]
    rows = [
        (
            "NoteTaker",
            f"sess-{i % 2}",
            t0 + dt.timedelta(minutes=i),
            {"Title": f"note {i}", "Content": txt, "Context": "test"},
        )
        for i, txt in enumerate(topics)
    ]
    calls = spark.createDataFrame(
        rows, "tool string, session_id string, ts timestamp_ntz, arguments map<string,string>"
    )
    mem = ingest_batch(calls)
    # attach the meta struct the views expect
    return mem.withColumn(
        "meta",
        F.struct(
            F.lit("agent-x").alias("agent_id"),
            F.lit("1.0").alias("schema_version"),
            F.lit("2.0.0").alias("fegis_version"),
            F.lit("default").alias("archetype_title"),
            F.lit("0.01").alias("archetype_version"),
        ),
    ).cache()


def test_basic_search_relevance(corpus):
    out = search_memory(
        corpus, query="distributed spark queries", limit=2, score_threshold=0.0,
        ref_ts=F.lit(dt.datetime(2024, 2, 1)).cast("timestamp_ntz"),
    )
    rows = out.collect()
    assert out.columns == RESULT_VIEWS["summary"]
    assert "spark" in _content_of(corpus, rows[0].memory_id)


def _content_of(corpus, memory_id):
    return corpus.filter(F.col("memory_id") == memory_id).first().content


def test_filtered_search_with_algebra(corpus):
    out = search_memory(
        corpus,
        query="semantic search",
        search_type="filtered",
        filters=[{"field": "session_id", "operator": "is", "value": "sess-0"}],
        limit=5,
        score_threshold=0.0,
        detail="compact",
        ref_ts=F.lit(dt.datetime(2024, 2, 1)).cast("timestamp_ntz"),
    )
    rows = out.collect()
    assert out.columns == RESULT_VIEWS["compact"]
    assert all(r.session_id == "sess-0" for r in rows)


def test_by_id_and_graph_view(corpus):
    some_id = corpus.orderBy("memory_id").first().memory_id
    out = search_memory(
        corpus, query=some_id, search_type="by_memory_id", detail="graph",
        ref_ts=F.lit(dt.datetime(2024, 2, 1)).cast("timestamp_ntz"),
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].score == 1.0
    assert rows[0]["meta.agent_id"] == "agent-x"


def test_guards(corpus):
    with pytest.raises(ValueError, match="Query required for 'basic'"):
        search_memory(corpus, query="   ")
    with pytest.raises(ValueError, match="Query required for 'by_memory_id'"):
        search_memory(corpus, query="", search_type="by_memory_id")
    with pytest.raises(ValueError, match="exceeds 1000"):
        search_memory(corpus, query="x" * 1001)
    with pytest.raises(ValueError, match="Unknown search_type"):
        search_memory(corpus, query="q", search_type="fuzzy")
    # filtered search allows an empty query (reference handler.py:38-43)
    out = search_memory(
        corpus, query="", search_type="filtered",
        filters=[{"field": "tool", "operator": "is", "value": "NoteTaker"}],
        score_threshold=0.0, detail="compact",
    )
    assert out.count() == 3  # limit default 3


def test_threshold_default_applies(corpus):
    # default 0.4 filters weak matches; score of unrelated text is low
    out = search_memory(corpus, query="zzzz qqqq absent tokens", limit=5, detail="compact")
    assert out.count() == 0


def test_embed_query_matches_ingest_space(corpus):
    # query embedding of a stored document's exact text must be ~identical
    # to the stored embedding (same feature-hash space)
    row = corpus.first()
    qv = embed_query(row.content)
    import numpy as np

    stored = np.array(row.embedding)
    assert float(np.dot(qv, stored) / (np.linalg.norm(qv) * np.linalg.norm(stored))) > 0.999


def test_by_id_applies_score_threshold(corpus):
    some_id = corpus.select("memory_id").first().memory_id
    # reference handler post-filters every search type; threshold > 1.0
    # excludes even the exact match (score 1.0)
    out = search_memory(
        corpus, query=some_id, search_type="by_memory_id",
        score_threshold=1.5, detail="compact",
    )
    assert out.count() == 0
    kept = search_memory(
        corpus, query=some_id, search_type="by_memory_id",
        score_threshold=1.0, detail="compact",
    )
    assert kept.count() == 1


def test_filtered_contains_is_matchtext_on_text_indexed_fields(memories):
    """The reference TEXT-indexes title/context (storage.py:74-75), so
    Qdrant gives `contains` on those fields analyzed MatchText
    semantics — tokens, not substrings. search_memory must agree."""
    from fegis_spark.api import TEXT_INDEX_FIELDS, search_memory

    assert TEXT_INDEX_FIELDS == {"title", "context"}
    # titles look like 'Title 0.1' — token query 'title' matches;
    # the tokens are ['title','0','1'], so a mid-word substring like
    # 'itl' must NOT match under MatchText semantics
    hit = search_memory(
        memories,
        search_type="filtered",
        filters=[{"field": "title", "operator": "contains", "value": "TITLE"}],
        detail="compact",
        score_threshold=0.0,  # no query vector -> score 0.0
    )
    assert hit.count() > 0
    miss = search_memory(
        memories,
        search_type="filtered",
        filters=[{"field": "title", "operator": "contains", "value": "itl"}],
        detail="compact",
        score_threshold=0.0,
    )
    assert miss.count() == 0
