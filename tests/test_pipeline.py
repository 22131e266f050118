"""Invariant tests for the training-data pipeline queries
(queries/pipeline_q.py): deterministic splits, packing budget,
stratified sample monotonicity. The value-level oracle parity is
covered by tools/check_correctness.py; these check the semantic
properties the oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from fegis_spark.catalog import catalog
from fegis_spark.queries.pipeline_q import PACK_BUDGET, SAMPLE_RATES, pack_sequences

SF_DIR = "/root/testdata/sf0.001"


def train_test_split(spark, sf_dir):
    return catalog()["train_test_split"].builder(spark, sf_dir)


def stratified_sample(spark, sf_dir):
    return catalog()["stratified_sample"].builder(spark, sf_dir)


def test_split_covers_all_docs_and_is_roughly_80_10_10(spark):
    rows = train_test_split(spark, SF_DIR).collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    total = sum(by_split.values())
    assert total == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert set(by_split) == {"train", "val", "test"}
    # md5 buckets are uniform-ish; at n=500 allow wide tolerance
    assert 0.70 <= by_split["train"] / total <= 0.90


def test_split_is_deterministic_across_runs(spark):
    a = {(r.split, r.lang): r.n_docs for r in train_test_split(spark, SF_DIR).collect()}
    b = {(r.split, r.lang): r.n_docs for r in train_test_split(spark, SF_DIR).collect()}
    assert a == b


def test_pack_chars_within_budget_plus_one_doc(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    max_doc = docs.agg(F.max("n_chars")).collect()[0][0]
    for r in pack_sequences(spark, SF_DIR).collect():
        # greedy cumsum packing: a pack exceeds the budget by at most
        # the document that crossed the boundary
        assert r.pack_chars <= PACK_BUDGET + max_doc


def test_pack_ids_contiguous_from_zero_per_lang(spark):
    rows = pack_sequences(spark, SF_DIR).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.pack_id)
    for lang, ids in by_lang.items():
        assert sorted(ids) == list(range(len(ids))), lang


def test_stratified_sample_subset_and_rates(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n_kept for r in stratified_sample(spark, SF_DIR).collect()}
    for lang, n_kept in kept.items():
        assert n_kept <= totals[lang]
        if SAMPLE_RATES.get(lang, 100) == 100:
            assert n_kept == totals[lang], lang
        else:
            assert n_kept < totals[lang], lang


def test_write_shards_bounds_and_partitions(spark, tmp_path):
    import glob

    from fegis_spark.sources.export import write_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "shards")
    write_shards(docs, out, fmt="parquet", partition_by=["lang"], max_records_per_file=50)
    files = glob.glob(f"{out}/lang=*/part-*.parquet")
    assert files, "no shard files written"
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    for f in files:
        assert spark.read.parquet(f).count() <= 50
    # partition column round-trips through the hive layout
    assert set(r.lang for r in back.select("lang").distinct().collect()) == set(
        r.lang for r in docs.select("lang").distinct().collect()
    )


def test_write_shards_jsonl(spark, tmp_path):
    import glob

    from fegis_spark.sources.export import write_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "jsonl")
    write_shards(docs, out, fmt="jsonl", max_records_per_file=200)
    assert glob.glob(f"{out}/part-*.json")
    back = spark.read.json(out)
    assert back.count() == docs.count()


def test_corpus_roundtrip_jsonl_with_schema(spark, tmp_path):
    from fegis_spark.sources.export import read_corpus, write_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "corpus")
    write_shards(docs, out, fmt="jsonl", max_records_per_file=100)
    back = read_corpus(spark, out, fmt="jsonl", schema="doc_id long, lang string, n_chars long")
    assert back.schema == docs.schema
    assert sorted(r.doc_id for r in back.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )


def test_split_assignment_stable_across_scale_factors(spark):
    # the hash split must be a pure function of doc_id: growing the
    # corpus (sf0.001 -> sf0.01) cannot move any shared doc between
    # splits — the property that makes incremental re-splits safe
    from fegis_spark.queries.pipeline_q import _bucket_sql

    def assignment(sf_dir):
        df = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
            "doc_id", f"{_bucket_sql('doc_id', spark=True)} AS bucket"
        )
        return {r.doc_id: r.bucket for r in df.collect()}

    small = assignment("/root/testdata/sf0.001")
    big = assignment("/root/testdata/sf0.01")
    shared = set(small) & set(big)
    assert shared, "scale factors share no doc_ids — test assumption broken"
    for d in shared:
        assert small[d] == big[d], d


def test_sorted_shards_are_globally_ordered(spark, tmp_path_factory):
    """write_sorted_shards: concatenating part files in filename order
    must yield a fully sorted corpus — range partitioning gives the
    cross-file order, sortWithinPartitions the intra-file order."""
    import os

    from fegis_spark.model import load_table
    from fegis_spark.operators.text_analysis import quality_score_sql
    from fegis_spark.sources.export import write_sorted_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", f"{quality_score_sql('text', spark=True)} AS q"
    )
    out = str(tmp_path_factory.mktemp("curriculum") / "shards")
    write_sorted_shards(docs, out, "q", num_shards=4)

    parts = sorted(
        f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) >= 2  # range partitioning actually fanned out
    seq = []
    for p in parts:
        pdf = spark.read.parquet(f"{out}/{p}").select("q").toPandas()
        seq.extend(pdf["q"].tolist())
    assert seq == sorted(seq), "global order broken across shards"
    assert len(seq) == docs.count()


def test_cdc_chunks_realign_after_edit(spark):
    """Content-defined boundaries re-align after an edit: prepending a
    sentence to a document changes only the chunks up to the first
    boundary after the edit — the suffix chunk hashes are identical.
    (A fixed-stride chunker would shift and re-hash every chunk.)"""
    import random

    from fegis_spark.queries.pipeline_q import cdc_chunks

    rng = random.Random(11)
    words = [f"tok{rng.randint(0, 5000)}" for _ in range(400)]
    original = " ".join(words)
    edited = "a brand new inserted preamble sentence " + original
    df = spark.createDataFrame(
        [(1, original), (2, edited)], "doc_id long, text string"
    )
    chunks = {1: [], 2: []}
    for r in cdc_chunks(df).orderBy("doc_id", "chunk_idx").collect():
        chunks[r.doc_id].append(r.chunk_hash)
    assert len(chunks[1]) > 3, "construction should yield several chunks"
    # suffixes re-align: all original chunks except a bounded prefix
    # reappear verbatim in the edited doc's chunk stream
    shared = set(chunks[1]) & set(chunks[2])
    assert chunks[1][-1] in shared
    n_lost = len([h for h in chunks[1] if h not in shared])
    assert n_lost <= 2, (n_lost, len(chunks[1]))
    # and the shared suffix is contiguous at the tail of both streams
    k = 0
    while (
        k < min(len(chunks[1]), len(chunks[2]))
        and chunks[1][-1 - k] == chunks[2][-1 - k]
    ):
        k += 1
    assert k >= len(chunks[1]) - 2, (k, len(chunks[1]))
