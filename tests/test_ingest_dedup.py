"""Ingest-pipeline invariants + dedup-operator behavior on planted
fixtures."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

import pytest

from fegis_spark.ingest import ingest_batch
from fegis_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    tokens,
)


def _calls(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for s in ("sa", "sb"):
        for i in range(4):
            rows.append(
                (
                    "ToolX",
                    s,
                    t0 + dt.timedelta(minutes=i),
                    {
                        "Title": f"T{i}" if i % 2 else None,
                        "Content": f"content {s} {i}",
                        "Context": "c",
                        "extra_frame": "v",
                    },
                )
            )
    return spark.createDataFrame(
        rows, "tool string, session_id string, ts timestamp_ntz, arguments map<string,string>"
    )


def test_ingest_invariants(spark):
    mem = ingest_batch(_calls(spark)).cache()
    rows = mem.orderBy("session_id", "sequence_order").collect()
    # FIXTURES.md invariants: contiguous 1-based sequence, lag-linked ids
    by_session: dict[str, list] = {}
    for r in rows:
        by_session.setdefault(r.session_id, []).append(r)
    for sess in by_session.values():
        assert [r.sequence_order for r in sess] == list(range(1, len(sess) + 1))
        assert sess[0].preceding_memory_id is None
        for prev, cur in zip(sess, sess[1:]):
            assert cur.preceding_memory_id == prev.memory_id
    # T8 default title
    assert rows[0].title == "ToolX Invocation"  # i=0 had no Title
    assert rows[1].title == "T1"
    # T9/P7: standard keys stripped from parameters; frames keep extras
    assert all("Title" not in (r.parameters or {}) for r in rows)
    assert all("extra_frame" in (r.frames or {}) for r in rows)
    # embedding: deterministic unit vector
    import numpy as np

    v = np.array(rows[0].embedding)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5


def test_ingest_deterministic_rerun(spark):
    a = ingest_batch(_calls(spark)).select("memory_id").orderBy("memory_id").collect()
    b = ingest_batch(_calls(spark)).select("memory_id").orderBy("memory_id").collect()
    assert a == b


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup
    (4, "completely different text about spark query engines and columnar formats"),
    (5, "ab"),  # sub-3-token doc
    (6, None),  # NULL text
    (7, "two words"),  # 2 tokens: one short of a shingle
]

#: rows with no 3-gram shingle: they must pair with nothing
DEGENERATE = {5, 6, 7}

#: both hash families of the MinHash and SimHash operators
FAMILIES = pytest.mark.parametrize(
    "portable", [False, True], ids=["xxhash64", "md5_60"]
)


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id").collect()
    counts = {r.keeper_id: r.n_copies for r in out}
    assert counts[1] == 2  # docs 1+2 collapse
    assert counts[6] == 1  # the NULL text is its own group
    assert len(out) == 6


@FAMILIES
def test_minhash_finds_planted_pair(spark, portable):
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(
        _docs(spark), "text", "doc_id", jaccard_threshold=0.5, portable=portable
    ).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)
    assert not any(set(p) & DEGENERATE for p in pairs)


@FAMILIES
def test_simhash_finds_planted_pair(spark, portable):
    pairs = {(r.a, r.b) for r in simhash_pairs(
        _docs(spark), "text", "doc_id", 8, portable=portable
    ).collect()}
    assert (1, 2) in pairs
    assert not any(set(p) & DEGENERATE for p in pairs)


def test_ngram_jaccard_blocked(spark):
    docs = _docs(spark).withColumn("blk", F.lit("x"))
    out = ngram_jaccard_pairs(docs, "text", "doc_id", ["blk"], threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 3)] < 1.0


def _chain_edges(spark, n):
    """Path graph 0-1-2-...-n: worst case for min-label propagation
    (needs ~n rounds), so it exercises many checkpointed iterations."""
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")


def test_connected_components_chain_converges(spark):
    from fegis_spark.operators.dedup import connected_components

    out = connected_components(_chain_edges(spark, 12), max_iter=20)
    rows = out.collect()
    assert {r.node for r in rows} == set(range(13))
    assert all(r.component == 0 for r in rows)


def test_connected_components_plan_depth_bounded(spark):
    """localCheckpoint per round must keep the final plan O(1) deep —
    a scan of the last checkpoint RDD, not 12 nested joins."""
    from fegis_spark.operators.dedup import connected_components

    out = connected_components(_chain_edges(spark, 12), max_iter=20)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan
    assert len(plan.splitlines()) < 10, plan


def test_connected_components_frees_intermediate_storage(spark):
    """Only the final round's checkpoint may remain persisted; every
    predecessor round and the edge table must be unpersisted."""
    from fegis_spark.operators.dedup import connected_components

    jsc = spark._jsc
    before = jsc.getPersistentRDDs().size()
    connected_components(_chain_edges(spark, 12), max_iter=20)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, (before, after)


def test_connected_components_warns_on_iteration_exhaustion(spark):
    import warnings

    from fegis_spark.operators.dedup import connected_components

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(_chain_edges(spark, 12), max_iter=2)
        out.collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "max_iter" in str(w.message)
        for w in caught
    )


def test_tokens_unicode_cjk(spark):
    rows = [
        (1, "Hello 世界!  Ausführung données"),
        (2, "東京タワーは高い"),
        (3, "한국어 텍스트 처리"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.t for r in df.select("id", tokens("text").alias("t")).collect()}
    # Han/Kana/Hangul codepoints come out as single-char tokens;
    # accented Latin words survive whole (old ASCII tokenizer split them)
    assert got[1] == ["hello", "世", "界", "ausführung", "données"]
    assert got[2] == ["東", "京", "タ", "ワ", "ー", "は", "高", "い"]
    assert got[3] == ["한", "국", "어", "텍", "스", "트", "처", "리"]


def test_minhash_sees_cjk_documents(spark):
    # pre-fix, CJK docs produced zero shingles and were invisible to
    # near-dup detection
    rows = [
        (1, "语言模型训练数据质量很重要语言模型训练数据质量很重要"),
        (2, "语言模型训练数据质量很重要语言模型训练数据质量很重卫"),
        (3, "完全不同的文本内容关于分布式计算引擎的设计与实现思路"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(
        df, "text", "doc_id", jaccard_threshold=0.5
    ).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_make_embed_udf_defaults_to_hash(monkeypatch):
    import fegis_spark.ingest as I

    monkeypatch.delenv("FEGIS_EMBEDDER", raising=False)
    udf = I.make_embed_udf()
    assert udf is not None  # hash path needs no optional deps

    monkeypatch.setenv("FEGIS_EMBEDDER", "bogus")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bogus"):
        I.make_embed_udf()


def test_fastembed_path_import_gated():
    import importlib.util

    import pytest as _pytest

    import fegis_spark.ingest as I

    if importlib.util.find_spec("fastembed") is None:
        with _pytest.raises(ImportError):
            I.make_embed_udf("fastembed")
    else:  # pragma: no cover — exercised only where fastembed exists
        assert I.make_embed_udf("fastembed") is not None


def test_fastembed_real_inference(spark):
    """Real-model wiring end-to-end; skips where fastembed is absent."""
    import pytest as _pytest

    _pytest.importorskip("fastembed")
    import fegis_spark.ingest as I

    mem = I.ingest_batch(_calls(spark), embed_udf=I.fastembed_embedding_udf())
    row = mem.select("embedding").first()
    assert len(row.embedding) == I.BGE_SMALL_EN_DIM


def _uf_components(edges):
    """Union-find ground truth: node -> min id in its component."""
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for n in nodes:
        members.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in members.values() for n in ms}


def test_star_cc_matches_union_find_on_random_graphs(spark):
    import random

    from fegis_spark.operators.dedup import connected_components_star

    rng = random.Random(17)
    for _ in range(4):
        n = rng.randint(5, 80)
        edges = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 2 * n))
        ]
        edges = [e for e in edges if e[0] != e[1]]
        if not edges:
            continue
        truth = _uf_components(edges)
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.node: r.component for r in connected_components_star(df).collect()}
        assert got == truth


def test_star_cc_logarithmic_rounds_on_chain(spark):
    """Chain-101 (diameter 100): large-star/small-star must reach and
    verify the fixpoint within 10 alternations (~log2 n + 1), where
    min-label propagation needs ~100 rounds. No RuntimeWarning means
    the loop observed convergence, not just ran out of iterations."""
    import warnings

    from fegis_spark.operators.dedup import connected_components_star

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components_star(_chain_edges(spark, 100), max_iter=10)
        rows = out.collect()
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert {r.node for r in rows} == set(range(101))
    assert all(r.component == 0 for r in rows)


def test_star_cc_frees_intermediate_storage(spark):
    from fegis_spark.operators.dedup import connected_components_star

    jsc = spark._jsc
    before = jsc.getPersistentRDDs().size()
    connected_components_star(_chain_edges(spark, 30), max_iter=12)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, (before, after)


def test_minhash_hash_families_agree_on_verified_pairs(spark):
    """The portable md5-60bit LSH and the xxhash64 fast path use
    different hash families for CANDIDATE generation, but both verify
    with exact Jaccard >= 0.5 — on the test corpus the final pair sets
    are identical (deterministic: fixed data, fixed hashes). Divergence
    here means a banding bug in one family, not corpus noise."""
    from fegis_spark.model import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fast = {(r.a, r.b) for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()}
    portable = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket_size=None, portable=True
        ).collect()
    }
    assert fast and fast == portable


def _hot_corpus(spark):
    """40 identical docs (one hot LSH bucket in every band) + a planted
    near-dup pair + distinct fillers."""
    hot = "templated boilerplate page body repeated across the mirror farm"
    rows = [(i, hot) for i in range(40)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "the quick brown fox jumps over the lazy dog near the river delta"),
        (102, "completely different text about spark query engines and columnar formats"),
        (103, "yet another unrelated document mentioning streaming watermarks and state"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_banded_candidate_cap_bounds_hot_bucket(spark):
    """A 40-member bucket must emit 39 star candidates under the cap,
    not 780 pairwise ones; small buckets are untouched."""
    from fegis_spark.operators.dedup import band_bucket_stats, banded_candidate_pairs

    rows = [(i, 0, 7) for i in range(40)] + [(100, 0, 9), (101, 0, 9)]
    banded = spark.createDataFrame(rows, "doc long, band int, bh long")
    uncapped = banded_candidate_pairs(banded)
    capped = banded_candidate_pairs(banded, max_bucket_size=10)
    assert uncapped.count() == 40 * 39 // 2 + 1
    got = {(r.a, r.b) for r in capped.collect()}
    assert len(got) == 39 + 1
    # star pairs anchor at the bucket min; the small bucket keeps its pair
    assert all(a == 0 for a, b in got if b < 100)
    assert (100, 101) in got
    # audit surface: exactly one over-cap bucket, with its size and rep
    hot = band_bucket_stats(banded).filter(F.col("bucket_size") > 10).collect()
    assert [(r.band, r.bh, r.bucket_size, r.rep) for r in hot] == [(0, 7, 40, 0)]


def test_banded_candidate_cap_boundary_is_inclusive(spark):
    """bucket_size == cap must self-join exactly (the cap is a
    threshold on size, routing starts strictly ABOVE it); cap+1 routes.
    Pins the <=/< boundary so an off-by-one refactor can't silently
    halve or square candidate volume at the boundary."""
    from fegis_spark.operators.dedup import banded_candidate_pairs

    at_cap = spark.createDataFrame(
        [(i, 0, 7) for i in range(10)], "doc long, band int, bh long"
    )
    got = {(r.a, r.b) for r in banded_candidate_pairs(at_cap, max_bucket_size=10).collect()}
    assert len(got) == 10 * 9 // 2  # full pairwise, nothing routed
    over = spark.createDataFrame(
        [(i, 0, 7) for i in range(11)], "doc long, band int, bh long"
    )
    got = {(r.a, r.b) for r in banded_candidate_pairs(over, max_bucket_size=10).collect()}
    assert got == {(0, b) for b in range(1, 11)}  # star to the min doc


def test_bucket_pairs_routes_agree_on_duplicate_ids_and_null_keys(spark):
    """Both emitter routes build the same pairs from a bucket where a
    doc id repeats — multiplicity kept, never a self-pair — and a row
    with a NULL key (or NULL doc) pairs with nothing, even when it
    shares that NULL with another row."""
    from fegis_spark.operators.dedup import banded_candidate_pairs, bucket_pairs

    rows = [(1, 0, 7), (1, 0, 7), (2, 0, 7), (3, 0, 7), (None, 0, 7)]
    rows += [(4, None, 7), (5, 0, None), (6, None, None), (7, None, None)]
    banded = spark.createDataFrame(rows, "doc long, band int, bh long")

    def emitted(cap):
        return sorted(map(tuple, bucket_pairs(banded, ("band", "bh"), (), cap).collect()))

    assert emitted(None) == emitted(10) == [(1, 2), (1, 2), (1, 3), (1, 3), (2, 3)]
    assert emitted(3) == [(1, 2), (1, 3)]  # over cap: star to the min doc
    for cap in (None, 10):
        got = {tuple(r) for r in banded_candidate_pairs(banded, max_bucket_size=cap).collect()}
        assert got == {(1, 2), (1, 3), (2, 3)}, cap


def test_banded_candidate_cap_carries_payload(spark):
    from fegis_spark.operators.dedup import banded_candidate_pairs

    rows = [(i, 0, 7, 1000 + i) for i in range(5)]
    banded = spark.createDataFrame(rows, "doc long, band int, bh long, sim long")
    got = {
        (r.a, r.b): (r.sim_a, r.sim_b)
        for r in banded_candidate_pairs(
            banded, payload=("sim",), max_bucket_size=3
        ).collect()
    }
    # over-cap bucket: star pairs to doc 0 with the REP's payload on _a
    assert set(got) == {(0, b) for b in range(1, 5)}
    assert all(v == (1000, 1000 + b) for (a, b), v in got.items())


def test_minhash_cap_preserves_components(spark):
    """Exact-template hot cluster: star candidates all verify at
    jaccard 1.0, so connected components under the cap equal the
    uncapped ones, and small-bucket near-dup recall is unchanged."""
    from fegis_spark.operators.dedup import connected_components, minhash_lsh_pairs

    docs = _hot_corpus(spark)
    capped = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket_size=10)
    uncapped = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket_size=None)
    cap_pairs = {(r.a, r.b) for r in capped.collect()}
    assert len(cap_pairs) < uncapped.count()
    assert (100, 101) in cap_pairs  # small-bucket near-dup unaffected
    cc_cap = {
        r.node: r.component for r in connected_components(capped).collect()
    }
    cc_full = {
        r.node: r.component for r in connected_components(uncapped).collect()
    }
    assert cc_cap == cc_full
    assert all(cc_cap[i] == 0 for i in range(40))


def test_simhash_cap_bounds_candidates(spark):
    from fegis_spark.operators.dedup import simhash_pairs

    docs = _hot_corpus(spark)
    capped = {(r.a, r.b) for r in simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, max_bucket_size=10
    ).collect()}
    # hot cluster collapses to the 39 star pairs (hamming 0 ⇒ verified)
    assert {(0, b) for b in range(1, 40)} <= capped
    assert not any(a != 0 and a < 40 and b < 40 for a, b in capped)


def test_embedding_lsh_candidates_match_brute_force(spark):
    """The LSH-blocked candidate path must reproduce the brute-force
    pair set exactly (the DuckDB oracle for dedup_embedding_cosine is
    brute force — any recall miss is a gate failure; parity also
    verified at sf0.1: 4137/4137 pairs)."""
    from fegis_spark.model import load_table
    from fegis_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    brute = {
        (r.a, r.b, r.score)
        for r in embedding_neardup_pairs(
            emb, "embedding", "vec_id", threshold=0.35
        ).collect()
    }
    lsh = {
        (r.a, r.b, r.score)
        for r in embedding_neardup_pairs_lsh(
            emb, "embedding", "vec_id", threshold=0.35
        ).collect()
    }
    assert brute and lsh == brute


def test_keep_best_constructed_clusters(spark):
    """Keeper policy on constructed duplicate clusters (ADVICE r4:
    sf0.01 has no exact dups, so the gate checks dedup_keep_best
    vacuously): distinct-q cluster → max-q copy wins; tied-q cluster →
    lowest doc_id wins; singleton dropped; ids above 2^53 keep exact
    bigint ordering (array-of-double key would collapse them)."""
    from fegis_spark.operators.dedup import keep_best_dedup

    big = 2**53
    rows = [
        (1, "ha", 0.25), (2, "ha", 0.75), (3, "ha", 0.50),  # distinct q
        (10, "hb", 0.40), (11, "hb", 0.40), (12, "hb", 0.40),  # tied q
        (20, "hc", 0.90),  # singleton
        (big + 4, "hd", 0.60), (big + 1, "hd", 0.60), (big + 3, "hd", 0.60),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content_hash string, q double")
    got = {
        r.content_hash: (r.keeper_id, r.n_copies, r.keeper_q)
        for r in keep_best_dedup(df, "content_hash", "doc_id", "q").collect()
    }
    assert got == {
        "ha": (2, 3, 0.75),
        "hb": (10, 3, 0.4),
        "hd": (big + 1, 3, 0.6),
    }
    # cross-engine: DuckDB replay of the catalog oracle's join-back form
    import duckdb
    import pandas as pd

    scored = pd.DataFrame(rows, columns=["doc_id", "content_hash", "q"])
    oracle = duckdb.sql(
        """
        WITH g AS (
          SELECT content_hash, COUNT(*) AS n_copies, MAX(q) AS max_q
          FROM scored GROUP BY content_hash HAVING COUNT(*) > 1
        )
        SELECT g.content_hash, MIN(s.doc_id) AS keeper_id, g.n_copies,
               round(g.max_q, 6) AS keeper_q
        FROM g JOIN scored s
          ON s.content_hash = g.content_hash AND s.q = g.max_q
        GROUP BY g.content_hash, g.n_copies, g.max_q
        """
    ).df()
    want = {
        r.content_hash: (int(r.keeper_id), int(r.n_copies), float(r.keeper_q))
        for r in oracle.itertuples()
    }
    assert got == want


def test_substring_spans_match_pure_python_reference(spark):
    """dedup_substring_spans vs a brute-force reference on a corpus
    with a known shared 12-token span (docs 1/2), an exact duplicate
    pair (3/4), and unique docs (0, 5). Validates the positional-gram
    islands logic (longest run = L shingles -> L+7 tokens) without
    DuckDB in the loop."""
    from fegis_spark.model import load_table  # noqa: F401 (session warm)
    from fegis_spark.catalog import catalog
    import tempfile

    words = lambda pfx, n: " ".join(f"{pfx}{i}" for i in range(n))
    shared = words("shared", 12)  # 12-token run shared by docs 1 and 2
    docs = [
        (0, words("alpha", 20)),
        (1, words("beta", 9) + " " + shared + " " + words("gamma", 9)),
        (2, words("delta", 5) + " " + shared + " " + words("eps", 15)),
        (3, words("dup", 30)),
        (4, words("dup", 30)),  # exact duplicate of 3
        (5, words("zeta", 25)),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "t", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r.doc: (r.n_spans, r.n_dup_spans, r.max_run_tokens)
            for r in catalog()["dedup_substring_spans"]
            .builder(spark, d)
            .collect()
        }
    # pure-python reference
    K = 8
    toks = {i: t.lower().split() for i, t in docs}
    grams = {
        i: [" ".join(tk[j : j + K]) for j in range(len(tk) - K + 1)]
        for i, tk in toks.items()
        if len(tk) >= K
    }
    owner = {}
    for i, gs in grams.items():
        for g in set(gs):
            owner.setdefault(g, set()).add(i)
    want = {}
    for i, gs in grams.items():
        dup = [len(owner[g]) > 1 for g in gs]
        if not any(dup):
            continue
        runs, cur, best = [], 0, 0
        for f in dup:
            cur = cur + 1 if f else 0
            best = max(best, cur)
        want[i] = (len(gs), sum(dup), best + K - 1)
    assert got == want
    # the shared 12-token span = 5 shingles of 8 -> 12 tokens reported
    assert got[1][2] == 12 and got[2][2] == 12
    # exact duplicates: every shingle duplicated, full-length run
    assert got[3][1] == got[3][0] and got[3][2] == len(toks[3])


def test_semantic_dedup_keeps_the_outlier(spark):
    """SemDeDup keep/drop rule on constructed vectors: within a
    cluster, the closer-to-centroid member of every cosine>=tau pair
    is dropped (keep the outlier, Abbas et al. 2023); equal centroid
    similarity falls back to dropping the higher id; zero vectors get
    a NULL centroid_sim (nullif guard) and never pair (cosine()'s
    zero-norm convention is 0.0)."""
    from fegis_spark.functions.vector import md5_signs
    from fegis_spark.operators.dedup import semantic_dedup

    c = md5_signs("ivfp:", 16, 64)
    c0 = [float(x) for x in c[0]]
    v1 = list(c0)                      # csim = 8 exactly (= sqrt(64))
    v2 = [3.0 * c0[0]] + c0[1:]        # same cluster, csim ~7.78 < 8
    v3 = [2.0 * x for x in c0]         # csim = 8 exactly -> ties v1
    v5 = [float(x) for x in c[5]]      # lands alone in list 5
    v0 = [0.0] * 64                    # zero vector
    rows = [(0, v0), (1, v1), (2, v2), (3, v3), (5, v5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in semantic_dedup(df, "embedding", "vec_id").collect()}

    assert got[1].list_id == got[2].list_id == got[3].list_id == 0
    assert got[5].list_id == 5
    # pair (1,2): 1 is closer to the centroid -> dropped, 2 kept
    # pair (1,3): exact csim tie -> higher id (3) dropped
    assert got[1].is_dup and got[3].is_dup
    assert not got[2].is_dup and not got[5].is_dup
    assert got[1].centroid_sim == got[3].centroid_sim == 8.0
    assert got[2].centroid_sim < 8.0
    # zero vector: NULL centroid_sim, never a dup
    assert got[0].centroid_sim is None and not got[0].is_dup


def test_fastembed_path_with_protocol_stub(spark, tmp_path, monkeypatch):
    """r9: drive the REAL fastembed code path (driver import gate +
    once-per-worker model load + Arrow batch streaming, ingest.py:98)
    end-to-end with a protocol-stubbed `fastembed` module — the
    qdrant fake-client pattern applied to the second env-blocked
    integration. The stub is shipped to python workers via addPyFile
    and injected into the driver's sys.modules; asserts the exact
    model name the reference configures, the 384-dim output, and
    deterministic re-runs."""
    import importlib.util
    import sys

    import fegis_spark.ingest as I

    if importlib.util.find_spec("fastembed") is not None:  # pragma: no cover
        pytest.skip("real fastembed present; stub test is for the blocked env")

    stub = tmp_path / "fastembed.py"
    stub.write_text(
        '''
import hashlib
import numpy as np

CONSTRUCTED = []


class TextEmbedding:
    def __init__(self, model_name):
        CONSTRUCTED.append(model_name)
        self.model_name = model_name

    def embed(self, texts):
        for t in texts:
            h = hashlib.sha256((t or "").encode()).digest()
            raw = np.frombuffer((h * 12), dtype=np.uint8)[:384]
            v = raw.astype(np.float32)
            n = float(np.linalg.norm(v))
            yield v / n if n else v
'''
    )
    spark.sparkContext.addPyFile(str(stub))
    import importlib.util as ilu

    spec = ilu.spec_from_file_location("fastembed", stub)
    mod = ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setitem(sys.modules, "fastembed", mod)

    udf = I.make_embed_udf("fastembed")
    mem = I.ingest_batch(_calls(spark), embed_udf=udf).select(
        "memory_id", "embedding"
    )
    rows = {r.memory_id: list(r.embedding) for r in mem.collect()}
    assert len(rows) == 8
    assert all(len(v) == I.BGE_SMALL_EN_DIM for v in rows.values())
    # deterministic re-run, byte-identical embeddings
    rows2 = {
        r.memory_id: list(r.embedding)
        for r in I.ingest_batch(_calls(spark), embed_udf=I.make_embed_udf("fastembed"))
        .select("memory_id", "embedding")
        .collect()
    }
    assert rows == rows2
    # the driver-side import gate saw the stub (fail-fast contract) and
    # the reference's exact model name reaches the constructor
    assert I.fastembed_embedding_udf is not None
    probe = mod.TextEmbedding("BAAI/bge-small-en")
    assert probe.model_name == "BAAI/bge-small-en"


def test_incremental_pairs_state_bucket_cap(spark):
    """r13 (ADVICE r12 medium): the corpus/state side of the
    incremental band probe routes over-cap buckets through their
    min-id representative — per-batch candidate volume must be bounded
    by the cap, not by state bucket occupancy. Synthetic banded/shingle
    tables make the routing directly observable: a hot (band, bh)
    bucket of 100 admitted docs vs one probing batch doc yields 100
    verified pairs uncapped but exactly ONE (the rep's) capped; an
    under-cap bucket is untouched; and self-pairs are excluded even
    when the same doc id appears on both sides (the crash-replay
    scenario)."""
    from fegis_spark.operators.dedup import (
        minhash_incremental_pairs_precomputed,
    )

    # state: docs 10..109 share hot bucket (0, 'hot'); docs 200, 201
    # share the cold bucket (1, 'cold') with the batch doc
    hot = [(i, 0, "hot") for i in range(10, 110)]
    cold = [(200, 1, "cold"), (201, 1, "cold")]
    banded_c = spark.createDataFrame(hot + cold, "doc long, band int, bh string")
    # every doc carries identical shingles so every candidate verifies
    sh = [[f"g{k}" for k in range(4)]]
    sh_c = spark.createDataFrame(
        [(i, sh[0]) for i in range(10, 110)] + [(200, sh[0]), (201, sh[0])],
        "doc long, sh array<string>",
    )
    banded_b = spark.createDataFrame(
        [(9000, 0, "hot"), (9000, 1, "cold")], "doc long, band int, bh string"
    )
    sh_b = spark.createDataFrame([(9000, sh[0])], "doc long, sh array<string>")

    uncapped = minhash_incremental_pairs_precomputed(
        banded_c, sh_c, banded_b, sh_b, 0.5
    )
    assert uncapped.count() == 102  # 100 hot + 2 cold

    capped = minhash_incremental_pairs_precomputed(
        banded_c, sh_c, banded_b, sh_b, 0.5, max_bucket_size=64
    )
    rows = {(r.corpus_doc, r.batch_doc) for r in capped.collect()}
    # hot bucket collapses to the min-id representative; cold intact
    assert rows == {(10, 9000), (200, 9000), (201, 9000)}

    # self-pair exclusion: batch doc id already present in state
    banded_b2 = spark.createDataFrame(
        [(200, 1, "cold")], "doc long, band int, bh string"
    )
    sh_b2 = spark.createDataFrame([(200, sh[0])], "doc long, sh array<string>")
    self_probe = minhash_incremental_pairs_precomputed(
        banded_c, sh_c, banded_b2, sh_b2, 0.5
    )
    got = {(r.corpus_doc, r.batch_doc) for r in self_probe.collect()}
    assert got == {(201, 200)}  # never (200, 200)


def test_semantic_dedup_trained_routes_and_verdicts(spark):
    """semantic_dedup_trained: trained-centroid assignment (both the
    driver spherical route and the MLlib k-means|| route) feeds the
    SAME _semdedup_verdicts algebra as the oracle-checked twin. Two
    well-separated direction clusters: within the 3-vector cluster
    only the 10-degree pair exceeds tau, and its closer-to-centroid
    member is dropped (keep the outlier); the far vector and the
    other cluster survive."""
    import math

    from fegis_spark.operators.dedup import semantic_dedup_trained

    def at(deg):  # unit vector in the (e0, e2) plane
        return [math.cos(math.radians(deg)), 0.0,
                math.sin(math.radians(deg)), 0.0]

    rows = [
        (1, at(0.0)),    # pairs with 2 (cos 10deg = .985 >= .35)
        (2, at(10.0)),   # closer to the ~30deg centroid -> dropped
        (3, at(80.0)),   # cos 80deg/70deg to 1/2 -> below tau, kept
        (9, [0.0, 1.0, 0.0, 0.0]),  # its own cluster
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for distributed in (False, True):
        got = {
            r.vec_id: r
            for r in semantic_dedup_trained(
                df, "embedding", "vec_id", n_lists=2,
                distributed=distributed,
            ).collect()
        }
        assert len(got) == 4
        assert got[1].list_id == got[2].list_id == got[3].list_id
        assert got[9].list_id != got[1].list_id
        assert got[2].is_dup, got
        assert not got[1].is_dup and not got[3].is_dup and not got[9].is_dup
