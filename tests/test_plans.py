"""Physical-plan regression tests: the scale posture (pushdown,
broadcast, top-k fusion, column pruning) must survive refactors."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from fegis_spark.catalog import catalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat():
    return catalog()


def formatted_plan(spark, cat, name: str) -> str:
    df = cat[name].builder(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, cat):
    p = formatted_plan(spark, cat, "filter_conjunction")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed, p
    line = pushed[0]
    # equality, range, and in-set predicates all pushed into parquet
    assert "EqualTo(event_type,click)" in line
    assert "GreaterThanOrEqual(value,10" in line
    assert "In(user_id" in line


def test_scan_prunes_columns(spark, cat):
    p = formatted_plan(spark, cat, "latest_event_per_user")
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert reads and "props" not in reads[0], reads


def _dims_broadcast(plan: str) -> bool:
    """Every join of the plan is a broadcast hash join: the dimension
    side meets the fact table without shuffling it."""
    return "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_star_join_broadcasts_dims(spark, cat):
    p = formatted_plan(spark, cat, "revenue_by_nation")
    assert _dims_broadcast(p), p


def test_star_join_pin_catches_a_sort_merged_dim_side(spark):
    """The pin above fails on the text that pre-joins customer x nation
    x region in one CTE: without CBO that side's size estimate is the
    product of its inputs, so it meets the fact side by SortMergeJoin
    while the nation and region joins inside it still broadcast."""
    from fegis_spark.catalog import sql_entry

    cte = sql_entry(
        "revenue_by_nation_cnr",
        """
        WITH cnr AS (
          SELECT c.c_custkey, n.n_name
          FROM {customer} c
          JOIN {nation} n ON c.c_nationkey = n.n_nationkey
          JOIN {region} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name IN ('ASIA', 'EUROPE')
        )
        SELECT cnr.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN cnr ON o.o_custkey = cnr.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY cnr.n_name
        """,
    )
    p = formatted_plan(spark, {cte.name: cte}, cte.name)
    assert "BroadcastHashJoin" in p and not _dims_broadcast(p), p


def test_knn_topk_fuses(spark, cat):
    p = formatted_plan(spark, cat, "knn_basic")
    assert "TakeOrderedAndProject" in p  # no global sort for top-k


def test_knn_join_broadcasts_queries(spark, cat):
    p = formatted_plan(spark, cat, "knn_join_batch")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_by_id_pushes_key(spark, cat):
    p = formatted_plan(spark, cat, "by_id_lookup")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(vec_id,42)" in pushed[0]


def test_chunking_is_shuffle_free(spark, cat):
    p = formatted_plan(spark, cat, "chunk_documents")
    assert "Exchange" not in p, p


def test_contamination_broadcasts_eval_grams(spark, cat):
    p = formatted_plan(spark, cat, "contamination_check")
    assert "BroadcastHashJoin" in p
    # the train corpus must stream map-side: no SortMergeJoin anywhere
    assert "SortMergeJoin" not in p


def test_packing_reuses_window_partitioning(spark, cat):
    # the groupBy(lang, pack_id) after the per-lang window must not
    # re-exchange: hashpartitioning(lang) already co-locates the groups
    p = formatted_plan(spark, cat, "pack_sequences")
    import re

    # formatted explain prints each node in the tree AND a detail
    # section — count detail headers like "(4) Exchange"
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_ivf_sample_has_no_corpus_ordering(spark):
    # centroid training sample = scan + md5-bucket filter; a global
    # Sort/TakeOrdered over the corpus here would be a 100 TB scan-sort
    # just to draw ~512 rows
    import io as _io
    from contextlib import redirect_stdout as _rs

    from fegis_spark.model import load_table
    from fegis_spark.operators.knn import ivf_training_sample

    emb = load_table(spark, SF_DIR, "embeddings")
    df = ivf_training_sample(emb, "vec_id", "embedding", 512)
    buf = _io.StringIO()
    with _rs(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Sort" not in p, p
    assert "TakeOrdered" not in p, p
    assert "Exchange" not in p, p


def test_hybrid_and_topk_plans_have_no_window(spark, cat, executed):
    # unpartitioned row_number windows funnel the corpus (or vocab)
    # through a single task; these queries must stay window-free. The
    # hybrids are eager (their returned plan is a literal), so what
    # building and collecting executes is pinned instead.
    p = formatted_plan(spark, cat, "word_count_top20")
    assert "Window" not in p, p
    for q in ("rrf_hybrid_search", "rrf_hybrid_pooled"):
        run = executed(lambda: cat[q].builder(spark, SF_DIR).collect())
        assert run.plans, q
        for p in run.plans:
            assert "Window" not in p, (q, p)


def test_bm25_and_unigram_broadcast_stats(spark, cat, executed):
    """Corpus-stat operators must ship the stats to the data (broadcast
    or, better, driver literals), never shuffle the corpus to the stats;
    bm25/hybrid stay window-free. Since r9 the bm25 idf stats are
    hoisted to literals (bounded 1-row round-trip, bm25.py), so the
    scoring stage has NO join at all — pin joinlessness, not the old
    BroadcastExchange."""
    p = formatted_plan(spark, cat, "text_unigram_logprob")
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    p = formatted_plan(spark, cat, "bm25_topk")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the eager hybrids: every plan that building and collecting runs
    for q, must in (("rrf_hybrid_pooled", "BroadcastExchange"), ("rrf_hybrid_bm25", None)):
        plans = executed(lambda: cat[q].builder(spark, SF_DIR).collect()).plans
        assert plans, q
        assert must is None or any(must in p for p in plans), (q, plans)
        for p in plans:
            assert "SortMergeJoin" not in p, (q, p)
            assert "BroadcastNestedLoopJoin" not in p, (q, p)
    p = formatted_plan(spark, cat, "bm25_topk")
    assert "Join" not in p, p  # scoring is a pure projection since r9
    assert "Window" not in p


def test_incremental_dedup_single_key_shuffle(spark, cat):
    """Anti join on the content hash: no nested-loop, no window; one
    hash-partitioned exchange per side at most."""
    p = formatted_plan(spark, cat, "dedup_incremental")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_stratified_fixed_k_window_is_partitioned(spark, cat):
    """The per-stratum rank must partition by lang — a global (empty
    partition-spec) window would funnel the corpus through one task."""
    p = formatted_plan(spark, cat, "stratified_fixed_k")
    assert "Window" in p, p
    # the window's exchange must hash-partition on the stratum key,
    # never collapse to a single partition
    assert "hashpartitioning(lang" in p, p
    assert "SinglePartition" not in p, p


def test_curation_projection_is_codegen_barriered(spark, cat):
    """curation_pipeline persists the scored projection as a pushdown
    barrier: the quality/lang filter must apply to the cached narrow
    columns (InMemoryTableScan), NOT be pushed into the parquet scan —
    pushed-down it re-evaluates both megaexpressions per row and blows
    janino's 64KB method limit (codegen disabled for the hot stage)."""
    p = formatted_plan(spark, cat, "curation_pipeline")
    assert "InMemoryTableScan" in p, p
    scan_lines = [l for l in p.splitlines() if "PushedFilters" in l]
    # the parquet scan must carry no quality/lang-id predicate residue
    assert all("regexp_replace" not in l for l in scan_lines), scan_lines


def test_heavy_hitters_recount_is_broadcast(spark, cat):
    # candidate recount must be a broadcast join (candidates ≤ k·parts)
    # and the plan must not hash-aggregate the full vocabulary: the only
    # wide agg runs AFTER the semi-style candidate join.
    p = formatted_plan(spark, cat, "text_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total crossJoin


def test_keywords_tfidf_broadcasts_df_and_total(spark, cat):
    p = formatted_plan(spark, cat, "text_keywords_tfidf")
    assert "BroadcastHashJoin" in p  # df table join
    assert "InMemoryTableScan" in p  # persisted tf feeds df rollup + scoring


def test_bigram_lm_broadcasts_vocab(spark, cat):
    p = formatted_plan(spark, cat, "text_bigram_logprob")
    assert "BroadcastHashJoin" in p
    assert "InMemoryTableScan" in p  # persisted bigram vocab, single corpus scan


def test_gopher_filter_is_shuffle_free(spark, cat):
    p = formatted_plan(spark, cat, "gopher_quality_filter")
    assert "Exchange" not in p, p


def test_mmr_corpus_stage_is_topk_pool(spark, cat):
    # the only corpus-scale operator must be the fused top-k pool scan
    p = formatted_plan(spark, cat, "mmr_rerank")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_copurchase_is_join_free(spark, cat):
    # pairs are generated in-row from collected baskets — no self-join
    p = formatted_plan(spark, cat, "copurchase_pairs")
    assert "Join" not in p, p


def test_hard_negatives_broadcasts_anchors(spark, cat):
    p = formatted_plan(spark, cat, "hard_negatives")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_shipping_priority_pushes_dates_and_fuses_topk(spark, cat):
    p = formatted_plan(spark, cat, "shipping_priority")
    assert "TakeOrderedAndProject" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed), pushed
    assert any("l_shipdate" in l for l in pushed), pushed


def test_rolling_window_is_user_partitioned(spark, cat):
    p = formatted_plan(spark, cat, "events_rolling_1h")
    # the window's exchange hashes on user_id — never a global
    # range-partitioned sort
    assert "hashpartitioning(user_id" in p, p
    assert "rangepartitioning" not in p.lower(), p


def test_rank_filter_family_pushes_window_group_limit(spark, cat):
    """Every rank-then-filter top-k must carry WindowGroupLimit: the
    partial per-map top-k that bounds shuffle volume per hot key (at
    most k rows per map task per key reach the exchange). This — not
    AQE skew-split, which cannot split window partitions — is the
    hot-key guard for the family, and it silently disappears if a
    refactor swaps row_number for a non-rank function or filters on a
    derived column, so pin it (r5 verdict #3)."""
    for q in (
        "source_cap_sample",
        "top_orders_per_segment",
        "knn_join_batch",
        "hard_negatives",
        "stratified_fixed_k",
    ):
        p = formatted_plan(spark, cat, q)
        assert "WindowGroupLimit" in p, (q, p)


def test_capped_dedup_windows_partition_on_bucket_key(spark, cat):
    """The hot-bucket cap's sizing window must ride the join's own
    bucket-key exchange — hash-partitioned on the fingerprint hash /
    (band, band-hash), never a global window (which would funnel the
    exploded corpus through one task and defeat the cap entirely)."""
    p = formatted_plan(spark, cat, "winnow_match_capped")
    assert "hashpartitioning(h" in p, p
    assert "SinglePartition" not in p, p
    p = formatted_plan(spark, cat, "dedup_minhash_capped")
    assert "SinglePartition" not in p, p


def test_epoch_shuffle_window_partitions_by_bucket(spark, cat):
    """The corpus-side rank window must hash-partition on the shuffle
    bucket (256-way parallel); only the 256-row offset prefix-sum may
    single-partition. A global row_number here would funnel the corpus
    through one task."""
    p = formatted_plan(spark, cat, "epoch_shuffle")
    assert "hashpartitioning(bucket" in p, p
    assert "BroadcastExchange" in p, p


def test_ivf_portable_routes_without_cross_product(spark, cat):
    """ann_ivf_portable's candidate join must be the list_id equi-join
    (broadcast probes), never a corpus × queries cross product, and
    the probe top-k must not reach for a global sort."""
    p = formatted_plan(spark, cat, "ann_ivf_portable")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_curation_flagship_has_no_smj_or_cartesian(spark, cat):
    """The end-to-end flagship must keep its composed shape: broadcast
    drop-set anti-join + 1-row decile broadcast + (shard, sub) pack
    windows — zero sort-merge joins, no non-broadcast cross product
    (the only NLJ is the 1-row cutpoint broadcast, repo crossJoin
    policy)."""
    p = formatted_plan(spark, cat, "curation_flagship")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p


def test_pruning_bottom_k_fuses(spark, cat):
    """The hard-example selector's global bottom-k must fuse to
    TakeOrderedAndProject (per-partition heaps) — a global Sort here
    would funnel the corpus through one range partition."""
    p = formatted_plan(spark, cat, "pruning_hard_examples")
    assert "TakeOrderedAndProject" in p, p


def test_source_overlap_join_is_hash_not_cartesian(spark, cat):
    """The cross-source gram self-join must stay an equi-join on the
    md5 key (fan-out bounded by sources² per key) with the per-source
    totals broadcast — never a cartesian of the gram tables."""
    p = formatted_plan(spark, cat, "source_overlap_matrix")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_padding_audit_is_one_agg(spark, cat):
    """Pure projection + one partial/final agg: no window, no join."""
    p = formatted_plan(spark, cat, "pack_padding_audit")
    assert "Window" not in p, p
    assert "Join" not in p, p


def test_watermark_audit_window_is_user_partitioned(spark, cat):
    """The lateness running-max must ride a user_id hash exchange —
    a global arrival-order window would funnel the stream."""
    p = formatted_plan(spark, cat, "watermark_lateness_audit")
    assert "hashpartitioning(user_id" in p, p
    assert "SinglePartition" not in p, p


def test_fk_audit_broadcasts_gated_parents(spark, cat):
    # every parent is under BROADCAST_GATE_BYTES at test scale, so all
    # six anti-joins compile to BroadcastHashJoin LeftAnti — the same
    # plan the old unconditional hints produced. The point of the pin:
    # the gate, not a hard-coded hint, decides (docstring and plan
    # agree; r9 verdict "What's wrong #2").
    p = formatted_plan(spark, cat, "fk_integrity_audit")
    assert p.count("BroadcastHashJoin") >= 6, p
    assert "SortMergeJoin" not in p


def test_maybe_broadcast_gate():
    # under the gate: hint applied (plan has ResolvedHint/broadcast);
    # over it: the DataFrame is returned UNCHANGED (same plan object
    # semantics — AQE decides later from runtime stats)
    from pyspark.sql import SparkSession

    from fegis_spark.model import BROADCAST_GATE_BYTES, maybe_broadcast, table_bytes

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.range(10)
    hinted = maybe_broadcast(df, BROADCAST_GATE_BYTES)
    assert "broadcast" in hinted._jdf.queryExecution().logical().toString().lower()
    unhinted = maybe_broadcast(df, BROADCAST_GATE_BYTES + 1)
    assert unhinted is df
    # bounds come from real on-disk sizes: monotone across sf tiers
    assert table_bytes("/root/testdata/sf0.001", "customer") < table_bytes(
        "/root/testdata/sf0.01", "customer"
    )


def test_bitext_mining_is_panel_broadcast_only(spark, cat):
    # batch-vs-corpus shape: every cross-score is a broadcast
    # nested-loop against a bounded panel; no corpus x corpus SMJ or
    # cartesian anywhere
    p = formatted_plan(spark, cat, "bitext_margin_mining")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_bt_ranking_iterates_off_corpus(spark, cat):
    # after the one window pass, every join is broadcast-hash over the
    # |types|^2-bounded tables — the MM rounds never touch the corpus
    p = formatted_plan(spark, cat, "preference_bt_ranking")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_mixture_quota_is_bounded_after_count(spark, cat):
    p = formatted_plan(spark, cat, "mixture_quota_plan")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_group_split_leakage_single_scan_no_expand(spark, cat):
    """Both split strategies are assigned in one corpus pass: exactly
    one parquet scan, no Expand (the min!=max leak test replaces
    countDistinct), and the strategy rows come from ONE wide agg row
    (a second scan would double the corpus cost at 100 TB)."""
    p = formatted_plan(spark, cat, "group_split_leakage")
    # formatted plans print each node twice (tree + detail) — count
    # scans by their unique Location: lines
    assert p.count("Location:") == 1, p
    assert "Expand" not in p, p
    assert "Join" not in p, p


def _executed_plan(spark, cat, name: str) -> str:
    df = cat[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_panel_topk_partial_group_limit(spark, cat):
    """r11 verdict #1, resolved by measurement (r12): the bounded-panel
    per-query top-k windows are NOT funnels on Spark 4 — the optimizer
    plans WindowGroupLimit(Partial) BELOW the exchange, so each map
    task ships only top-k per (query, partition) and the shuffled
    volume is k x partitions x |panel|, not the corpus. This pin fails
    if a refactor breaks the rule's preconditions (e.g. filtering the
    rank late, ordering on a non-attribute expression), which would
    silently reintroduce the corpus-wide shuffle into <= |panel| tasks.
    The grouped_topk aggregate alternative measured 0.59-0.82x of this
    form (evidence/topk_ab_r12.json)."""
    for name in (
        "knn_join_batch",
        "ann_pq_adc",
        "ann_pq_rerank",
        "ann_ivfpq_portable",
        "ann_ivf_portable",
    ):
        p = _executed_plan(spark, cat, name)
        assert "WindowGroupLimit" in p and ", Partial" in p, (name, p)


def test_recall_audit_topk_is_window_free(spark, cat):
    """ann_pq_recall_audit bounds TWO rankings in one filter — the
    group-limit rule can only cover the LAST window, and only above
    the exchange, so the dual-window form WAS the corpus x panel
    funnel. Pinned shape: both top-10 sets come from one window-free
    (query, input-partition) bounded-slice aggregation pass."""
    p = formatted_plan(spark, cat, "ann_pq_recall_audit")
    import re

    assert not re.search(r"\(\d+\) Window(?:\s|$)", p), p
    assert "WindowGroupLimit" not in p, p


def test_soft_dedup_is_single_pass_no_join(spark, cat):
    """dedup_soft_weights must stay the exact-dedup shape plus a
    bounded histogram: one parquet scan, a content-hash count window,
    one hash-agg — never a corpus join-back."""
    p = formatted_plan(spark, cat, "dedup_soft_weights")
    assert p.count("Location:") == 1, p
    assert "Join" not in p, p


def test_grouped_ntile_lead_no_full_group_corpus_window(spark, cat):
    """r13: grouped_ntile_sharded / grouped_lead_sharded exist BECAUSE
    ntile/lead never get a WindowGroupLimit rescue — so their plans
    must never contain a window partitioned by the group column alone
    over the corpus. Pins: (a) every corpus-side window spec carries
    the bucket column in its partition clause (panel windows — the
    offset prefix-sum / next-bucket lookup — run over the bounded
    counts/firsts derivation, identifiable by the internal column
    names); (b) the lead query's firsts pass plans the
    WindowGroupLimit(Partial) pre-exchange top-1; (c) after execution,
    the ntile query's two consumers of the (lang, b) exchange collapse
    to one shuffle via AQE ReusedExchange."""
    import re

    for name, panel_refs in (
        ("grouped_ntile_sharded", ("__gn_n#",)),
        ("grouped_lead_sharded", ("__gl_first#",)),
    ):
        p = formatted_plan(spark, cat, name)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
            part = m.group(1).split("specifiedwindowframe")[0]
            # classify EACH spec (ADVICE r13: the old `internal in p`
            # fallback tested the whole plan string and was vacuously
            # true — a rogue full-group corpus window could never fail
            # it). Partition clause = args before the first ASC/DESC
            # column; a spec without the bucket column there is only
            # legal when its window FUNCTION (the text immediately
            # before the spec) consumes the bounded panel columns.
            pcols = []
            for tok in part.split(","):
                if " ASC" in tok or " DESC" in tok:
                    break
                pcols.append(tok.strip())
            ctx = p[max(0, m.start() - 200) : m.start()]
            is_panel = any(r in ctx for r in panel_refs)
            assert any(t.startswith("b#") for t in pcols) or is_panel, (
                name, part, ctx[-120:]
            )
        # no native ntile/lead over a group-only partition
        assert not re.search(r"windowspecdefinition\(lang#\d+,\s*n_chars", p), p

    lead_exec = _executed_plan(spark, cat, "grouped_lead_sharded")
    assert "WindowGroupLimit" in lead_exec and ", Partial" in lead_exec, lead_exec

    df = cat["grouped_ntile_sharded"].builder(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_text_exprs_spell_shared_intermediates_once(spark, cat):
    """The generated text scorers stay linear in their definition: the
    whitespace-collapse regexp_replace appears once in the optimized
    plan of content_preview_docs and text_quality_score (bound once per
    row, not re-spelled per use), and text_lang_id spells each of its
    five language scores once (the re-spelled argmax CASE chain printed
    20 514 chars)."""
    import os
    import re

    sf001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

    def optimized(name: str) -> str:
        df = cat[name].builder(spark, sf001)
        return df._jdf.queryExecution().optimizedPlan().toString()

    collapse = re.compile(r"regexp_replace\([^,]+, \\s\+, ")
    for name in ("content_preview_docs", "text_quality_score"):
        p = optimized(name)
        assert len(collapse.findall(p)) == 1, (name, p)
    lang = optimized("text_lang_id")
    assert len(lang) <= 20_514 // 3, len(lang)
