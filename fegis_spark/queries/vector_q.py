"""Vector search catalog queries (SURVEY.md §2.3, K1-K8, F12, X1).

Query vector = the stored embedding of vec_id 0 (deterministic; the
reference embeds the query string — here the oracle needs the same
bytes on both engines, so we use a stored vector). Scores are computed
dot/(na*nb) in float64 with sequential folds on both engines and
rounded to 6 dp.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fegis_spark.catalog import register
from fegis_spark.functions.vector import int_quant_sql
from fegis_spark.model import load_table, table_memo
from fegis_spark.operators.knn import ann_ivf, knn_join
from fegis_spark.plans.search import basic_search, by_id_search, filtered_search

# DuckDB: explicit sequential-fold cosine (list_cosine_similarity's
# internal op order is unspecified — spell it out so both engines fold
# identically in float64).
_COS = """
      list_aggregate(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])),
                                    p -> p[1] * p[2]), 'sum')
      / (sqrt(list_aggregate(list_transform(CAST(a.embedding AS DOUBLE[]), x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(CAST(q.embedding AS DOUBLE[]), x -> x*x), 'sum')))
"""


def _query_vec(spark, sf_dir, vec_id: int = 0):
    """Driver-side query vector, memoized on the embeddings table's
    stamp (model.table_memo): every search-family builder would
    otherwise pay a ~0.2 s head() job for it."""

    def lookup():
        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
        return [float(x) for x in row.embedding]

    return table_memo(spark, sf_dir, "embeddings", ("query_vec", vec_id), lookup)


@register(
    "knn_basic",
    oracle=f"""
    SELECT a.vec_id, round({_COS}, 6) AS score
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY {_COS} DESC, a.vec_id
    LIMIT 10
    """,
    covers=("K1", "K4", "O2", "O3", "X2"),
    bench=True,
)
def knn_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 basic semantic search: exact cosine top-10. orderBy+limit
    fuses to TakeOrderedAndProject (per-partition heap, no global
    sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = basic_search(emb, "embedding", _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register(
    "knn_filtered",
    oracle=f"""
    SELECT a.vec_id, a.label, round({_COS}, 6) AS score
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE a.label IN (2, 7)
    ORDER BY {_COS} DESC, a.vec_id
    LIMIT 5
    """,
    covers=("K2", "F7", "X1"),
)
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 filtered search: predicate BEFORE scoring/top-k (the
    reference's filtered-ANN contract, X1) — a different result set
    than filter-after-top-k, which is the point."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = filtered_search(
        emb,
        "embedding",
        _query_vec(spark, sf_dir),
        filters=[{"field": "label", "operator": "any_of", "value": [2, 7]}],
        k=5,
        valid_fields={"label", "vec_id"},
        timestamp_fields=set(),
    )
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


@register(
    "by_id_lookup",
    oracle="""
    SELECT vec_id, label, CAST(1.0 AS DOUBLE) AS score
    FROM embeddings WHERE vec_id = 42
    """,
    covers=("K3", "S5"),
)
def by_id_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: primary-key retrieve wrapped as ScoredPoint with score 1.0
    (reference strategies.py:294-320); parquet min/max pruning serves
    as the index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return by_id_search(emb, "vec_id", 42).select("vec_id", "label", "score")


@register(
    "score_threshold_after_topk",
    oracle=f"""
    SELECT vec_id, score FROM (
      SELECT a.vec_id, round({_COS}, 6) AS score
      FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      ORDER BY {_COS} DESC, a.vec_id
      LIMIT 50
    ) WHERE score >= 0.4
    """,
    covers=("F12", "X8"),
)
def score_threshold_after_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: the 0.4 default threshold applies AFTER ranking+limit
    (handler.py:52-59) — threshold-then-limit would admit lower-ranked
    rows; order of operations is the semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = basic_search(
        emb, "embedding", _query_vec(spark, sf_dir), k=50, score_threshold=0.4
    )
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register(
    "knn_join_batch",
    oracle=f"""
    SELECT query_id, corpus_id, score, rank FROM (
      SELECT q.vec_id AS query_id, a.vec_id AS corpus_id,
             round({_COS}, 6) AS score,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, a.vec_id) AS rank
      FROM embeddings a CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
    ) WHERE rank <= 3
    """,
    covers=("K8",),
    bench=True,
)
def knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 [EXT]: batch KNN similarity join — 5 query vectors vs the
    corpus, top-3 each. Query side broadcast: corpus never shuffles;
    the only shuffle is the per-query top-k window."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join(
        emb.filter(F.col("vec_id") < 5), emb, "vec_id", "vec_id", "embedding", k=3
    )
    return out.select(
        "query_id", "corpus_id", F.round("score", 6).alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "label_centroids",
    oracle="""
    SELECT label, dim,
           -- lint: allow R3 (BIGINT summand — exact integer micro-units)
           CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS qsum_x,
           COUNT(*) AS n
    FROM (
      SELECT label, CAST(r.range AS INT) AS dim,
             CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 9) r
    )
    GROUP BY label, dim
    """,
    covers=("[EXT]-centroids", "§2.8-explode"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] per-class embedding centroids (first 8 dims checked):
    posexplode → decimal-exact mean per (label, dim). The building
    block for class prototypes / IVF list training at scale — shuffle
    is |labels|x|dims| after partial agg, independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x")
    ).withColumn("dim", F.col("d0") + 1).filter(F.col("dim") <= 8)
    return ex.groupBy("label", "dim").agg(
        # exact-integer micro-unit sum + count (r7 R6 rule). NOT a
        # decimal transit: float32 values can land exactly on the
        # decimal grid midpoint (x = odd/2^11 hits .5e-10) where
        # Spark's HALF_UP and DuckDB's double->decimal casts tie-break
        # differently — the SRP quantization recipe (round-to-BIGINT,
        # both engines away-from-zero) has no such tie.
        F.sum(F.round(F.col("x") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("qsum_x"),
        F.count("*").alias("n"),
    )


@register(
    "ann_lsh_join",
    oracle=None,  # LSH candidate generation is approximate — rows-only
    covers=("K1-approx", "[EXT]-ann"),
)
def ann_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] second ANN scale path: random-projection LSH similarity
    join (MLlib BucketedRandomProjectionLSH). Candidates come from a
    bucket equi-join — no cross product, so corpus and query sides
    both scale out; the trade against IVF (ann_ivf_portable /
    ann_ivf_indexed) is no
    centroid training and per-table hash layout instead of a
    partition-pruning list layout."""
    from fegis_spark.operators.knn import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_lsh(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "vec_id", "embedding", k=3
    )


@register(
    "ann_lsh_recall_audit",
    oracle="""
    SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 3) AS n_queries,
           (SELECT COUNT(*) FROM embeddings WHERE vec_id < 3)
             * LEAST(3, (SELECT COUNT(*) FROM embeddings)) AS n_exact_pairs,
           TRUE AS mean_recall_ge_04,
           TRUE AS buckets_ge_8,
           TRUE AS max_share_le_third
    """,
    covers=("K1-approx", "[EXT]-ann"),
)
def ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] error-bound audit for the MLlib BRP-LSH path (r13, the
    ann_ivf_recall_audit pattern — the r12 verdict asked the last
    undocumented rows-only query to carry a cross-engine-verified
    claim): the JVM hash values cannot be replayed in DuckDB, but the
    exact side and the acceptance claims can. Value-checks the panel
    size and exact top-3 pair count, and pins three booleans the
    oracle asserts literally TRUE:

    * mean recall@3 >= 0.4 over the 3-query panel vs exact brute
      force (measured 0.667/0.556/0.778 at sf0.001/0.01/0.1; the
      structural floor is 1/3 — a panel query always retrieves itself
      — so a pass requires genuinely finding neighbors);
    * hash-table-0 bucket count >= 8 and max bucket share <= 1/3
      (measured 12-14 buckets / 0.178-0.204 share): the degeneracy
      gate — reverting the derived sigma/2 bucket_length to the old
      fixed defaults collapses to ~2 buckets at ~0.51 share
      (evidence/brp_occupancy_r12.json) and flips BOTH booleans.

    Seeded (42) model + total-order tiebreaks make every measured
    quantity deterministic per corpus. ann_lsh_join stays the
    rows-only detail query; IVF / capped SRP remain the declared
    scale paths."""
    from fegis_spark.operators.knn import knn_join_lsh, lsh_bucket_stats

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=3).select(
        "query_id", "corpus_id"
    )
    approx = knn_join_lsh(
        queries, emb, "vec_id", "vec_id", "embedding", k=3
    ).select("query_id", F.col("corpus_id").alias("approx_id"))
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.corpus_id == approx.approx_id),
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "n_exact",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("rec"),
        )
    )
    rec = per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("n_exact").alias("n_exact_pairs"),
        (F.avg("rec") >= 0.4).alias("mean_recall_ge_04"),
    )
    occ = lsh_bucket_stats(emb, "embedding").select(
        (F.col("n_buckets") >= 8).alias("buckets_ge_8"),
        (F.col("max_bucket") * 3 <= F.col("n_rows")).alias("max_share_le_third"),
    )
    # bcast-ok: both sides are 1-row aggregates
    return rec.crossJoin(F.broadcast(occ))


def _ivf_recall_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_exact, rec): recall@3 of the IVF path against
    exact brute-force KNN over the 8-query panel — the ONE definition
    both the rows-only detail query and the oracle-checked audit
    consume, so they cannot drift apart. Both sides are deterministic
    (seeded k-means, total-order tiebreaks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=3).select(
        "query_id", "corpus_id"
    )
    approx = ann_ivf(queries, emb, "vec_id", "vec_id", "embedding", k=3).select(
        "query_id", F.col("corpus_id").alias("approx_id")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.corpus_id == approx.approx_id),
        "left_semi",
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("rec"),
        )
    )


@register(
    "ann_ivf_recall_audit",
    oracle="""
    SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 8) AS n_queries,
           (SELECT COUNT(*) FROM embeddings WHERE vec_id < 8)
             * LEAST(3, (SELECT COUNT(*) FROM embeddings)) AS n_exact_pairs,
           TRUE AS mean_recall_ge_half
    """,
    covers=("K1-approx", "[EXT]-ann"),
)
def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] error-bound audit for the IVF ANN path (same pattern as
    hll_error_audit / quantile_error_audit): the per-query recall
    detail stays in the _ivf_recall_per_query library frame (k-means
    lists are not DuckDB-replayable), while THIS query value-checks the exact side
    (query count, exact top-k pair count) and asserts the acceptance
    claim — mean recall@3 >= 0.5 over the 8-query panel — as a boolean
    the oracle pins literally TRUE. Seeded k-means + total-order
    tiebreaks make the measured mean deterministic (0.71-0.79 across
    sf0.001/0.01/0.1), so the 0.5 gate has ~40% margin; if an IVF
    refactor degrades probing below it, the gate fails. This query is
    what exercises the trained ann_ivf operator under the gate (r7
    folded the rows-only ann_ivf_probe/ann_ivf_recall detail queries:
    the routing semantics are now VALUE-checked by ann_ivf_portable,
    and per-query recall detail stays available as the library frame
    _ivf_recall_per_query)."""
    per_q = _ivf_recall_per_query(spark, sf_dir)
    return per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("n_exact").alias("n_exact_pairs"),
        (F.avg("rec") >= 0.5).alias("mean_recall_ge_half"),
    )


@register(
    "quantize_embeddings",
    oracle="""
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_aggregate(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS qsum,
           list_min(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS qmin,
           list_max(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS qmax
    FROM (
      SELECT vec_id, v,
             CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS scale
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m
        FROM embeddings
      )
    )
    """,
    covers=("[EXT]-quantize",),
)
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] symmetric int8 quantization per vector (scale = 127/max
    |x|, q = floor(x*scale + 0.5)) — the storage/bandwidth move that
    makes 100 TB of embeddings 4x smaller before ANN indexing. Pure
    projection over higher-order fold expressions: zero shuffle, and
    the rounding formula is spelled out so any engine reproduces the
    exact bytes (checked here via qsum/qmin/qmax, not a sample)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = emb.select(
        "vec_id",
        v.alias("v"),
        F.when(m == 0, F.lit(0.0)).otherwise(F.lit(127.0) / m).alias("scale"),
    )
    q = F.transform(
        F.col("v"), lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("long")
    )
    return base.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("qsum"),
        F.array_min(q).alias("qmin"),
        F.array_max(q).alias("qmax"),
    )


@register(
    "knn_top100",
    oracle=f"""
    SELECT a.vec_id, round({_COS}, 6) AS score
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY {_COS} DESC, a.vec_id
    LIMIT 100
    """,
    covers=("K1", "K4", "X2"),
    bench=True,
)
def knn_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K4 at the reference's k ceiling (limit<=100,
    search_tool_schema.json:12-18) — BASELINE.md's measurement plan
    records KNN at k=3 (default) and k=100 (max). Same
    TakeOrderedAndProject plan as knn_basic: per-partition heaps of
    100, no global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = basic_search(emb, "embedding", _query_vec(spark, sf_dir), k=100)
    return out.select("vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# MMR diversified re-ranking ([EXT]-mmr)

MMR_POOL = 50   #: candidate pool size (top-N by relevance)
MMR_K = 10      #: diversified results returned
MMR_LAM = 0.7   #: relevance weight
MMR_MU = 0.3    #: diversity weight — an explicit literal on BOTH sides
#                 (1 - 0.7 is 0.30000000000000004 in IEEE double, so a
#                 computed complement would diverge from the SQL's 0.3)


def _cos_pair(x: str, y: str) -> str:
    """Sequential-fold cosine between two embedding expressions —
    the generalized form of _COS (same fold, same float64 upcast)."""
    return f"""
      list_aggregate(list_transform(list_zip(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[])),
                                    p -> p[1] * p[2]), 'sum')
      / (sqrt(list_aggregate(list_transform(CAST({x} AS DOUBLE[]), v -> v*v), 'sum'))
         * sqrt(list_aggregate(list_transform(CAST({y} AS DOUBLE[]), v -> v*v), 'sum')))"""


def _mmr_oracle() -> str:
    """Generated DuckDB restatement of greedy MMR: the k selection
    steps are UNROLLED as chained CTEs (s1..sk) — no recursion, each
    step an argmax with (mmr DESC, vec_id) total order over the
    not-yet-chosen pool, max-sim computed against the union of all
    prior steps. Pool relevance and pairwise sims are rounded to 6 dp
    BEFORE the greedy phase on both engines, so every comparison the
    greedy makes sees identical doubles."""
    steps, unions = [], []
    steps.append(
        f"s1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, rel, {MMR_LAM} * rel AS mmr FROM pool "
        f"ORDER BY {MMR_LAM} * rel DESC, vec_id LIMIT 1)"
    )
    unions.append("SELECT vec_id FROM s1")
    for i in range(2, MMR_K + 1):
        chosen = " UNION ALL ".join(unions)
        mmr = (
            f"{MMR_LAM} * p.rel - {MMR_MU} * (SELECT max(sim) FROM sims "
            f"WHERE a_id = p.vec_id AND b_id IN ({chosen}))"
        )
        steps.append(
            f"s{i} AS MATERIALIZED (SELECT {i} AS rank, p.vec_id, p.rel, {mmr} AS mmr "
            f"FROM pool p WHERE p.vec_id NOT IN ({chosen}) "
            f"ORDER BY {mmr} DESC, p.vec_id LIMIT 1)"
        )
        unions.append(f"SELECT vec_id FROM s{i}")
    all_steps = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    pool AS MATERIALIZED (
      SELECT a.vec_id, round({_COS}, 6) AS rel
      FROM embeddings a, q
      ORDER BY {_COS} DESC, a.vec_id
      LIMIT {MMR_POOL}
    ),
    pe AS MATERIALIZED (
      SELECT p.vec_id, e.embedding FROM pool p JOIN embeddings e ON p.vec_id = e.vec_id
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round({_cos_pair('a.embedding', 'b.embedding')}, 6) AS sim
      FROM pe a, pe b WHERE a.vec_id <> b.vec_id
    ),
    {', '.join(steps)}
    SELECT rank, vec_id, rel, round(mmr, 6) AS mmr_score
    FROM ({all_steps}) u ORDER BY rank
    """


def _mmr_greedy(pdf):
    """Driver-free greedy over ONE Arrow group of MMR_POOL rows: pure
    max/argmax over pre-rounded doubles (no float ops beyond the
    lam*rel - mu*maxsim the SQL oracle also performs), so both engines
    compare identical values; ties break on smallest vec_id."""
    import pandas as pd

    rel, sims = {}, {}
    for r in pdf.itertuples(index=False):
        rel[r.a_id] = r.rel
        sims[r.a_id] = {
            (e["b_id"] if isinstance(e, dict) else e[0]): (
                e["sim"] if isinstance(e, dict) else e[1]
            )
            for e in r.s
        }
    remaining, chosen, rows = set(rel), [], []
    for rank in range(1, MMR_K + 1):
        best, best_key = None, None
        for v in remaining:
            maxsim = max((sims[v][c] for c in chosen), default=0.0)
            key = (MMR_LAM * rel[v] - MMR_MU * maxsim, -v)
            if best_key is None or key > best_key:
                best, best_key = v, key
        rows.append((rank, best, rel[best], best_key[0]))
        chosen.append(best)
        remaining.remove(best)
    return pd.DataFrame(rows, columns=["rank", "vec_id", "rel", "mmr"])


@register(
    "mmr_rerank",
    oracle=_mmr_oracle(),
    covers=("[EXT]-mmr",),
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick argmax of lam*rel - mu*max-sim-to-
    selected over a top-MMR_POOL relevance pool — the classic redundancy
    breaker between retrieval and a context window.

    Scale shape: the ONLY corpus-scale stage is the same top-k scan as
    knn_basic (TakeOrderedAndProject, no shuffle of the corpus); all
    further work is O(pool^2)=2500 sims via a broadcast self-join and
    ONE Arrow group of 50 rows for the greedy phase (applyInPandas —
    inherently sequential in k, so the bounded pool is the distributed
    design, not a shortcut). Determinism: rel and sims round to 6 dp
    before the greedy phase on both sides; the mu literal matters (see
    MMR_MU); mmr_score rounds at output in Spark SQL, not in Python
    (round-half-even vs half-up)."""
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pool = basic_search(emb, "embedding", _query_vec(spark, sf_dir), k=MMR_POOL).select(
        "vec_id", F.round("score", 6).alias("rel"), "embedding"
    )
    # norms once per pool row, reused across the O(pool^2) pair sims
    # (bit-identical to cosine(), 1.8x less CPU per pair — r14)
    a = pool.select(
        F.col("vec_id").alias("a_id"), "rel",
        F.col("embedding").alias("ea"),
        F.expr(norm_sql("embedding")).alias("na"),
    )
    b = pool.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        F.expr(norm_sql("embedding")).alias("nb"),
    )
    sims = (
        a.crossJoin(F.broadcast(b))  # bcast-ok: MMR_POOL-row candidate pool
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id", "rel", "b_id",
            F.round(
                F.expr(cosine_from_parts_sql(dot_sql("ea", "eb"), "na", "nb")),
                6,
            ).alias("sim"),
        )
    )
    packed = sims.groupBy("a_id", "rel").agg(
        F.sort_array(F.collect_list(F.struct("b_id", "sim"))).alias("s")
    )
    out = (
        packed.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_mmr_greedy, schema="rank int, vec_id bigint, rel double, mmr double")
    )
    return out.select(
        "rank", "vec_id", "rel", F.round("mmr", 6).alias("mmr_score")
    ).orderBy("rank")


HARDNEG_QUERIES = 8  #: anchor vectors (vec_id < HARDNEG_QUERIES)
HARDNEG_K = 5        #: hard negatives returned per anchor


@register(
    "hard_negatives",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < {HARDNEG_QUERIES}
    ), scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             a.vec_id AS neg_id, a.label AS neg_label,
             {_cos_pair('a.embedding', 'q.embedding')} AS raw
      FROM embeddings a, anchors q
      WHERE a.label <> q.label
    ), ranked AS (
      SELECT anchor_id, anchor_label, neg_id, neg_label, raw,
             ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY raw DESC, neg_id
             ) AS rank
      FROM scored
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label,
           round(raw, 6) AS score, rank
    FROM ranked WHERE rank <= {HARDNEG_K}
    """,
    covers=("[EXT]-hard-negatives",),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] hard-negative mining for contrastive/retrieval training:
    for each anchor vector, the top-k most-similar vectors with a
    DIFFERENT label — the negatives that actually move an embedding
    model (Karpukhin et al. 2020's in-batch-negatives upgrade path).

    Plan: anchors broadcast (bounded constant, like knn_join_batch's
    query side) against one corpus scan; the label-mismatch filter runs
    BEFORE scoring/ranking (the K2 filter-before-rank contract), so
    same-label rows never enter the window; per-anchor row_number over
    (score DESC, neg_id) — ranks taken on the unrounded fold, exactly
    as knn_basic orders, with the 6-dp rounding applied at output."""
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < HARDNEG_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("__qv"),
        F.expr(norm_sql("embedding")).alias("__qn"),
    )
    scored = (
        # corpus norm once per row, not once per (row, anchor) —
        # bit-identical to cosine(), 1.8x less CPU per pair (r14)
        emb.withColumn("__cn", F.expr(norm_sql("embedding")))
        .crossJoin(F.broadcast(anchors))  # bcast-ok: HARDNEG_QUERIES-row anchor panel
        .where(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.expr(
                cosine_from_parts_sql(
                    dot_sql("embedding", "__qv"), "__cn", "__qn"
                )
            ).alias("raw"),
        )
    )
    # panel-ok: WindowGroupLimit(Partial) below the exchange (row_number + immediate filter)
    w = Window.partitionBy("anchor_id").orderBy(F.desc("raw"), F.col("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HARDNEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round("raw", 6).alias("score"),
            "rank",
        )
    )


#: embeddings are 64-dim (TESTDATA.md); the SRP literal matrices are
#: generated once at import from md5 parity (functions/vector.md5_signs).
EMB_DIM = 64


def _srp_oracle() -> str:
    from fegis_spark.operators.dedup import srp_code

    return f"""
    SELECT vec_id, {srp_code('embedding', EMB_DIM, spark=False)} AS srp_code
    FROM embeddings
    """


@register(
    "embedding_srp_codes",
    oracle=_srp_oracle(),
    covers=("[EXT]-srp", "K9-embedding"),
)
def embedding_srp_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sign-random-projection codes (Charikar 2002 — cosine LSH):
    each embedding gets a 32-bit code whose bits are the signs of dot
    products against md5-derived ±1 hyperplanes; hamming distance on
    codes estimates angular distance. Unlike the MLlib
    BucketedRandomProjectionLSH path (rows-only by contract: JVM RNG),
    this is FULLY oracle-checked: embeddings quantize to integers, so
    every dot product is an exact integer on both engines and the sign
    can never flip on summation order. Zero shuffle — a pure
    projection; at 100 TB codes are the 4-byte standins you store
    alongside vectors to prefilter ANN candidates."""
    from fegis_spark.operators.dedup import srp_code

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.expr(srp_code("embedding", EMB_DIM)).alias("srp_code")
    )


def _srp_hamming_oracle() -> str:
    from fegis_spark.operators.dedup import SRP_BANDS, srp_code
    from fegis_spark.queries.sqlfrag import HOT_CAP

    hot_cap = HOT_CAP
    return f"""
    WITH codes AS MATERIALIZED (
      SELECT vec_id, {srp_code('embedding', EMB_DIM, spark=False)} AS code
      FROM embeddings
    ), ex AS (
      SELECT vec_id, p, (code >> (8 * p)) & 255 AS bk
      FROM codes, unnest(range(0, {SRP_BANDS})) AS t(p)
    ), sized AS MATERIALIZED (
      SELECT vec_id, p, bk,
             COUNT(*) OVER (PARTITION BY p, bk) AS bs,
             MIN(vec_id) OVER (PARTITION BY p, bk) AS rep
      FROM ex
    ), cand AS (
      SELECT DISTINCT id_l, id_r FROM (
        SELECT l.vec_id AS id_l, r.vec_id AS id_r
        FROM sized l JOIN sized r
          ON l.p = r.p AND l.bk = r.bk AND l.vec_id < r.vec_id
        WHERE l.bs <= {hot_cap}
        UNION ALL
        SELECT rep AS id_l, vec_id AS id_r FROM sized
        WHERE bs > {hot_cap} AND vec_id <> rep
      )
    )
    SELECT bit_count(xor(cl.code, cr.code)) AS hamming,
           COUNT(*) AS n_pairs
    FROM cand c
    JOIN codes cl ON cl.vec_id = c.id_l
    JOIN codes cr ON cr.vec_id = c.id_r
    GROUP BY hamming
    """


@register(
    "embedding_srp_blocked_hamming",
    oracle=_srp_hamming_oracle(),
    covers=("[EXT]-srp", "K1-approx"),
)
def embedding_srp_blocked_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SRP band-blocked candidate generation, reported as a
    hamming histogram: vectors sharing any 8-bit band of their SRP
    code become candidate pairs (the cosine-LSH blocking move —
    identical join shape to the MinHash bands), then exact hamming on
    the full code buckets the candidates. On the near-random test
    vectors low-hamming mass is tiny — the histogram output keeps the
    check non-vacuous at every sf while still value-pinning the whole
    pipeline (codes, banding, cap routing, join, popcount). The
    constructed-vector near-dup property (true near-dups collide and
    land at hamming ~0) is pinned in tests/test_srp.py.

    Scale (r11, closing the r10 verdict's catalog contradiction): the
    SRP band space is only SRP_BANDS x 256 = 1024 buckets, so bucket
    occupancy grows LINEARLY with the corpus and an uncapped band
    self-join quadratically — the r10 64x probe measured the uncapped
    shape at ratio 51.96 (evidence/scale_probe_64x_r10.json). This
    query therefore routes through banded_candidate_pairs with the
    HOT_CAP min-id representative star, same as every other band
    family; the oracle replays the identical routing value-for-value
    (on natural data the cap fires only where occupancy exceeds
    HOT_CAP — at small sf it usually degenerates to the plain band
    algebra, and embedding_srp_capped forces it to fire at every sf
    via the constructed hot cluster)."""
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import (
        SRP_BANDS,
        banded_candidate_pairs,
        srp_code,
    )
    from fegis_spark.queries.sqlfrag import HOT_CAP

    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id", F.expr(srp_code("embedding", EMB_DIM)).alias("code")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = codes.select(
        F.col("vec_id").alias("doc"),
        F.explode(F.expr(f"sequence(0, {SRP_BANDS - 1})")).alias("band"),
        "code",
    ).select("doc", "band", F.expr("(code >> (8 * band)) & 255").alias("bh"))
    pairs = banded_candidate_pairs(banded, max_bucket_size=HOT_CAP)
    cl = codes.select(F.col("vec_id").alias("a"), F.col("code").alias("code_l"))
    cr = codes.select(F.col("vec_id").alias("b"), F.col("code").alias("code_r"))
    return (
        pairs.join(cl, "a")
        .join(cr, "b")
        .select(F.expr("bit_count(code_l ^ code_r)").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


def _srp_capped_oracle() -> str:
    """DuckDB twin of embedding_srp_capped: same constructed hot
    vectors, same window bucket-size + min-id representative routing as
    the dedup_minhash_capped oracle, then the exact hamming histogram."""
    from fegis_spark.operators.dedup import SRP_BANDS, srp_code
    from fegis_spark.queries.sqlfrag import HOT_CAP, duck_hot_embeddings

    return f"""
    WITH emb2 AS MATERIALIZED ({duck_hot_embeddings()}),
    codes AS MATERIALIZED (
      SELECT vec_id, {srp_code('embedding', EMB_DIM, spark=False)} AS code
      FROM emb2
    ), ex AS (
      SELECT vec_id, p, (code >> (8 * p)) & 255 AS bk
      FROM codes, unnest(range(0, {SRP_BANDS})) AS t(p)
    ), sized AS MATERIALIZED (
      SELECT vec_id, p, bk,
             COUNT(*) OVER (PARTITION BY p, bk) AS bs,
             MIN(vec_id) OVER (PARTITION BY p, bk) AS rep
      FROM ex
    ), cand AS (
      SELECT DISTINCT a, b FROM (
        SELECT l.vec_id AS a, r.vec_id AS b
        FROM sized l JOIN sized r
          ON l.p = r.p AND l.bk = r.bk AND l.vec_id < r.vec_id
        WHERE l.bs <= {HOT_CAP}
        UNION ALL
        SELECT rep AS a, vec_id AS b FROM sized
        WHERE bs > {HOT_CAP} AND vec_id <> rep
      )
    )
    SELECT bit_count(xor(cl.code, cr.code)) AS hamming,
           COUNT(*) AS n_pairs
    FROM cand c
    JOIN codes cl ON cl.vec_id = c.a
    JOIN codes cr ON cr.vec_id = c.b
    GROUP BY hamming
    """


@register(
    "embedding_srp_capped",
    oracle=_srp_capped_oracle(),
    covers=("[EXT]-srp", "K1-approx"),
)
def embedding_srp_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SRP band blocking WITH the hot-bucket cap exercised under
    the oracle (r10, after the 64x scale probe caught the uncapped
    band join going superlinear — the SRP band space is only
    SRP_BANDS x 256 buckets, so bucket occupancy grows linearly with
    the corpus and uncapped pair output quadratically;
    evidence/scale_probe_64x_r10.json). A constant vector is injected
    into every HOT_MOD-th row (spark_hot_embeddings — the embedding
    twin of the HOT_BOILER text corpus), driving its band buckets far
    over HOT_CAP at every sf, so banded_candidate_pairs' min-id
    representative star routing actually fires and the DuckDB oracle
    replays the SAME routing value-for-value. Candidates still flow
    through the exact hamming verify; output is the histogram. The
    natural-data twin (embedding_srp_blocked_hamming) routes through
    the SAME cap since r11 — this query's job is forcing the routing
    to fire at every sf; it is also the shape the scale probe times."""
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import (
        SRP_BANDS,
        banded_candidate_pairs,
        srp_code,
    )
    from fegis_spark.queries.sqlfrag import HOT_CAP, spark_hot_embeddings

    emb = spark_hot_embeddings(load_table(spark, sf_dir, "embeddings"))
    codes = emb.select(
        "vec_id", F.expr(srp_code("embedding", EMB_DIM)).alias("code")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = codes.select(
        F.col("vec_id").alias("doc"),
        F.explode(F.expr(f"sequence(0, {SRP_BANDS - 1})")).alias("band"),
        "code",
    ).select("doc", "band", F.expr("(code >> (8 * band)) & 255").alias("bh"))
    pairs = banded_candidate_pairs(banded, max_bucket_size=HOT_CAP)
    cl = codes.select(F.col("vec_id").alias("a"), F.col("code").alias("code_l"))
    cr = codes.select(F.col("vec_id").alias("b"), F.col("code").alias("code_r"))
    return (
        pairs.join(cl, "a")
        .join(cr, "b")
        .select(F.expr("bit_count(code_l ^ code_r)").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# SRP ranking-fidelity evaluation ([EXT]-ranking-eval)

NDCG_PANEL = 8  #: evaluation query vectors (vec_id < NDCG_PANEL)
NDCG_K = 10     #: ranking depth: graded truth top-K, system list top-K
#: position discounts 1/log2(p+1), p = 1..K — computed ONCE driver-side
#: and embedded as the SAME shortest-repr literal in the Spark
#: expression ('D'-suffix parseDouble) and the DuckDB oracle (string
#: cast): the MMR_MU convention. log2 is transcendental, so letting
#: each engine compute it could diverge by 1 ulp; a shared literal
#: cannot. DuckDB's BARE-decimal literal is NOT safe here — its
#: DECIMAL->DOUBLE cast goes through a scaled double and lands 1 ulp
#: off the correctly-rounded parse for p=5 (probed r14; the same class
#: as the CLAUDE.md r10 decimal(38,18) finding) — hence CAST('…' AS
#: DOUBLE) string parses on the DuckDB side.
_NDCG_DISCOUNTS = tuple(1.0 / math.log2(p + 1) for p in range(1, NDCG_K + 1))


def _ndcg_disc_spark() -> str:
    return "array(" + ", ".join(f"{d!r}D" for d in _NDCG_DISCOUNTS) + ")"


def _ndcg_disc_duck() -> str:
    return (
        "["
        + ", ".join(f"CAST('{d!r}' AS DOUBLE)" for d in _NDCG_DISCOUNTS)
        + "]"
    )


def _srp_ndcg_oracle() -> str:
    """DuckDB restatement of srp_ndcg_eval: same SRP codes (exact
    integer sign arithmetic), same hamming/cosine orderings with the
    same (value, corpus_id) total orders, and the same position-fold
    metric arithmetic — every float op is a product/quotient/ordered
    sum of identical operands, so dcg/idcg/ndcg/mrr are bit-identical
    with NO rounding at the output."""
    from fegis_spark.operators.dedup import srp_code

    k, disc = NDCG_K, _ndcg_disc_duck()
    rels = (
        f"list_transform(range(1, {k + 1}), p -> "
        f"CASE WHEN list_position(tids, sids[p]) > 0 "
        f"THEN CAST({k + 1} AS BIGINT) - list_position(tids, sids[p]) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    return f"""
    WITH codes AS MATERIALIZED (
      SELECT vec_id, embedding, {srp_code('embedding', EMB_DIM, spark=False)} AS code
      FROM embeddings
    ), panel AS (
      SELECT vec_id AS query_id, embedding AS qv, code AS qcode
      FROM codes WHERE vec_id < {NDCG_PANEL}
    ), pairs AS MATERIALIZED (
      SELECT p.query_id, c.vec_id AS corpus_id,
             bit_count(xor(c.code, p.qcode)) AS ham,
             {_cos_pair('c.embedding', 'p.qv')} AS cos
      FROM codes c CROSS JOIN panel p
      WHERE c.vec_id <> p.query_id
    ), sysr AS (
      SELECT query_id, corpus_id, row_number() OVER (
               PARTITION BY query_id ORDER BY ham, corpus_id) AS r
      FROM pairs
    ), trur AS (
      SELECT query_id, corpus_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS r
      FROM pairs
    ), sl AS (
      SELECT query_id, list(corpus_id ORDER BY r) AS sids
      FROM sysr WHERE r <= {k} GROUP BY query_id
    ), tl AS (
      SELECT query_id, list(corpus_id ORDER BY r) AS tids
      FROM trur WHERE r <= {k} GROUP BY query_id
    ), m AS (
      SELECT query_id, {rels} AS rels
      FROM sl JOIN tl USING (query_id)
    ), agg AS (
      SELECT query_id,
        CAST(len(list_filter(rels, r -> r > 0)) AS BIGINT) AS hits,
        COALESCE(CAST(1 AS DOUBLE) / list_min(list_filter(
          list_transform(range(1, {k + 1}),
                         p -> CASE WHEN rels[p] > 0 THEN p END),
          x -> x IS NOT NULL)), CAST(0 AS DOUBLE)) AS mrr,
        list_aggregate(list_transform(range(1, {k + 1}),
          p -> CAST(rels[p] AS DOUBLE) * ({disc})[p]), 'sum') AS dcg,
        list_aggregate(list_transform(range(1, {k + 1}),
          p -> CAST({k + 1} - p AS DOUBLE) * ({disc})[p]), 'sum') AS idcg
      FROM m
    )
    SELECT query_id, hits, mrr, dcg, idcg, dcg / idcg AS ndcg
    FROM agg ORDER BY query_id
    """


@register(
    "srp_ndcg_eval",
    oracle=_srp_ndcg_oracle(),
    covers=("[EXT]-ranking-eval", "[EXT]-srp", "K1-approx"),
)
def srp_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Graded ranking-fidelity evaluation of the SRP sketch
    ordering: for each panel query, rank the corpus by full-code
    hamming distance (the 32-bit sketch's ORDER, not its band
    blocking) and score that top-{NDCG_K} list against exact-cosine
    graded truth (rel = {NDCG_K}+1-rank for the true top-{NDCG_K},
    0 otherwise) with nDCG@{NDCG_K}, MRR and hits@{NDCG_K}. The recall
    audits (ann_*_recall_audit) measure WHETHER true neighbors
    survive candidate generation; this measures how faithfully a
    cheap sketch ORDERS them — position-weighted, the metric that
    prices a sketch ranking for retrieval/curation use.

    Determinism: both orderings carry (value, corpus_id) total-order
    tiebreaks; the log2 position discounts are shared literals (see
    _NDCG_DISCOUNTS); dcg/idcg are position-ordered sequential folds
    of products of identical operands, ndcg/mrr exact IEEE quotients —
    all emitted UNROUNDED per the repo determinism rules.

    Scale shape: SRP codes are computed once per corpus row (persisted
    — two consumers: pair scan + panel extraction); the pair frame is
    |panel| x corpus with NO corpus-side shuffle; both top-{NDCG_K}
    lists come from ONE dual-bounded-slice two-stage aggregation
    (operators/topk.grouped_topk's shape — a filter cannot bound two
    rank columns under WindowGroupLimit, so the aggregate form is the
    scale-correct plan here); everything after is {NDCG_PANEL} rows."""
    from pyspark import StorageLevel

    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )
    from fegis_spark.operators.dedup import srp_code

    k = NDCG_K
    emb = load_table(spark, sf_dir, "embeddings")
    # norm once per row alongside the SRP code (reused across the
    # panel fanout — bit-identical to cosine(), 1.8x less CPU, r14)
    codes = emb.select(
        "vec_id",
        "embedding",
        F.expr(srp_code("embedding", EMB_DIM)).alias("code"),
        F.expr(norm_sql("embedding")).alias("__nrm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    panel = codes.filter(F.col("vec_id") < NDCG_PANEL).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("code").alias("__qcode"),
        F.col("__nrm").alias("__qn"),
    )
    pairs = (
        codes.crossJoin(F.broadcast(panel))  # bcast-ok: NDCG_PANEL-row query panel
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            F.expr("bit_count(code ^ __qcode)").alias("__ham"),
            F.expr(
                cosine_from_parts_sql(
                    dot_sql("embedding", "__qv"), "__nrm", "__qn"
                )
            ).alias("__cos"),
        )
    )
    sys_s = F.struct(
        F.col("__ham").cast("bigint").alias("v"), F.col("corpus_id").alias("i")
    )
    tru_s = F.struct((-F.col("__cos")).alias("v"), F.col("corpus_id").alias("i"))
    part = pairs.groupBy("query_id", F.spark_partition_id().alias("__part")).agg(
        F.slice(F.sort_array(F.collect_list(sys_s)), 1, k).alias("sa"),
        F.slice(F.sort_array(F.collect_list(tru_s)), 1, k).alias("ta"),
    )
    lists = part.groupBy("query_id").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("sa"))), 1, k).alias("sa"),
        F.slice(F.sort_array(F.flatten(F.collect_list("ta"))), 1, k).alias("ta"),
    )
    return _ndcg_metrics(lists).orderBy("query_id")


def _ndcg_metrics(lists: DataFrame) -> DataFrame:
    """Graded metrics from per-query ranked lists: input (query_id,
    sa, ta) where sa/ta are the system/truth top-{NDCG_K} arrays of
    (v, i) structs in rank order; output (query_id, hits, mrr, dcg,
    idcg, ndcg). Pure projection over |panel| rows — split out so the
    metric arithmetic is unit-testable on constructed lists
    (tests/test_srp.py) independently of the pair scan."""
    k, disc = NDCG_K, _ndcg_disc_spark()
    rels = (
        f"transform(sequence(1, {k}), p -> "
        f"CASE WHEN array_position(tids, element_at(sids, p)) > 0 "
        f"THEN CAST({k + 1} AS BIGINT) - array_position(tids, element_at(sids, p)) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    return (
        lists.withColumn("sids", F.expr("transform(sa, x -> x.i)"))
        .withColumn("tids", F.expr("transform(ta, x -> x.i)"))
        .withColumn("rels", F.expr(rels))
        .select(
            "query_id",
            F.expr("CAST(size(filter(rels, r -> r > 0)) AS BIGINT)").alias(
                "hits"
            ),
            F.expr(
                f"coalesce(CAST(1 AS DOUBLE) / array_min(filter("
                f"transform(sequence(1, {k}), "
                f"p -> CASE WHEN element_at(rels, p) > 0 THEN p END), "
                f"x -> x IS NOT NULL)), CAST(0 AS DOUBLE))"
            ).alias("mrr"),
            F.expr(
                f"aggregate(transform(sequence(1, {k}), "
                f"p -> CAST(element_at(rels, p) AS DOUBLE) * element_at({disc}, p)), "
                f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("dcg"),
            F.expr(
                f"aggregate(transform(sequence(1, {k}), "
                f"p -> CAST({k + 1} - p AS DOUBLE) * element_at({disc}, p)), "
                f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("idcg"),
        )
        .withColumn("ndcg", F.col("dcg") / F.col("idcg"))
    )


# ---------------------------------------------------------------------------
# Portable IVF twin ([EXT]-ann, K1-approx)


def _ivfp_cq() -> str:
    """The ``cq`` CTE of the portable-IVF oracles: every embedding with
    its ivfp routing dots."""
    from fegis_spark.operators.knn import ivfp_dots

    return f"""cq AS MATERIALIZED (
      SELECT vec_id, embedding, {ivfp_dots("embedding", 64, spark=False)} AS dots FROM embeddings
    )"""


def _ivfp_oracle() -> str:
    """DuckDB restatement of ann_ivf_portable: the SAME md5-derived
    literal centroids (operators/knn.ivfp_dots), exact-integer
    routing dots, first-max list assignment (first_arg_sql), the
    ivfp_probe_rank_sql probe order per query, candidate join
    restricted to the probed lists, sequential-fold float64 cosine
    re-rank rounded to 6 dp. Because routing compares exact integers,
    the candidate SETS — not just the surviving top-k — are identical
    cross-engine."""
    from fegis_spark.operators.knn import (
        IVFP_LISTS,
        IVFP_PROBE,
        first_arg_sql,
        ivfp_probe_rank_sql,
    )

    cos = _cos_pair("c.cv", "p.qv")
    return f"""
    WITH {_ivfp_cq()}, corp AS (
      SELECT vec_id AS corpus_id, embedding AS cv,
             {first_arg_sql("dots", False)} AS list_id
      FROM cq
    ), probes AS (
      SELECT query_id, qv, list_id FROM (
        SELECT vec_id AS query_id, embedding AS qv,
               CAST(r.range AS INT) AS list_id,
               dots[CAST(r.range AS INT) + 1] AS dot,
               {ivfp_probe_rank_sql("vec_id", 15)} AS rn
        FROM cq CROSS JOIN range(0, {IVFP_LISTS}) r
        WHERE vec_id < 3
      ) WHERE rn <= {IVFP_PROBE}
    )
    SELECT query_id, corpus_id, round(cos_score, 6) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT p.query_id, c.corpus_id, {cos} AS cos_score,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY {cos} DESC, c.corpus_id) AS rank
      FROM corp c JOIN probes p USING (list_id)
    ) WHERE rank <= 3
    """


@register(
    "ann_ivf_portable",
    oracle=_ivfp_oracle(),
    covers=("K1-approx", "[EXT]-ann"),
)
def ann_ivf_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] IVF-Flat ANN with md5-derived literal routing centroids —
    the fully oracle-checked twin of the trained ann_ivf path (r6
    verdict #2; reference K1 semantics strategies.py:262-272), the
    same certification pattern SRP provides for the MLlib LSH path:
    assignment/probing arithmetic is exact-integer, so DuckDB replays
    the routing value-for-value. 100 TB posture is identical to
    ann_ivf_indexed: list_id is the partition layout, a query batch
    scans n_probe/n_lists of the corpus, and the final window is
    per-query top-k over candidates only."""
    from fegis_spark.operators.knn import ann_ivf_portable

    emb = load_table(spark, sf_dir, "embeddings")
    out = ann_ivf_portable(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "vec_id", "embedding", dim=64
    )
    return out.select(
        "query_id", "corpus_id", F.round("score", 6).alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


#: recall-curve geometry: 8 panel queries, true top-10, probe ladder
#: up to the full n_lists=16 scan (whose recall-1.0 row anchors the
#: curve and proves the truth/candidate plumbing agrees end-to-end).
ANN_CURVE_PROBES = (1, 2, 4, 8, 16)
ANN_CURVE_K = 10
ANN_CURVE_PANEL = 8
#: the scan fraction of the r10 DEMONSTRATED >=0.9-recall operating
#: point for the trained IVF index (n_lists=128, n_probe=64 -> 50%
#: scan, recall@10 = 0.956 at 2.35x over brute force at 64x data;
#: evidence/ivf_operating_point_r10.json). The curve marks its own
#: 50%-scan rung so the oracle pins the flag cross-engine.
ANN_CURVE_OP_SCAN_NUM = 1  # scan = num/den of n_lists
ANN_CURVE_OP_SCAN_DEN = 2


def _ann_curve_oracle() -> str:
    """DuckDB restatement of ann_recall_curve: same literal centroids
    and exact-integer routing as _ivfp_oracle, brute-force true top-k
    per panel query, probe rank per (query, list), then conditional
    hit sums over the literal probe ladder."""
    from fegis_spark.operators.knn import (
        IVFP_LISTS,
        first_arg_sql,
        ivfp_probe_rank_sql,
    )

    cos = _cos_pair("c.cv", "q.qv")
    probes_values = ", ".join(f"({p})" for p in ANN_CURVE_PROBES)
    denom = ANN_CURVE_PANEL * ANN_CURVE_K
    return f"""
    WITH {_ivfp_cq()}, corp AS (
      SELECT vec_id AS corpus_id, embedding AS cv,
             {first_arg_sql("dots", False)} AS list_id
      FROM cq
    ), panel AS (
      SELECT vec_id AS query_id, embedding AS qv, dots
      FROM cq WHERE vec_id < {ANN_CURVE_PANEL}
    ), pr AS MATERIALIZED (
      SELECT query_id, CAST(r.range AS INT) AS list_id,
             {ivfp_probe_rank_sql("query_id", 13)} AS probe_rank
      FROM panel CROSS JOIN range(0, {IVFP_LISTS}) r
    ), truth AS (
      SELECT query_id, corpus_id, list_id FROM (
        SELECT q.query_id, c.corpus_id, c.list_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos} DESC, c.corpus_id) AS rank
        FROM corp c CROSS JOIN panel q
        WHERE c.corpus_id <> q.query_id
      ) WHERE rank <= {ANN_CURVE_K}
    ), hits AS (
      SELECT t.query_id, pr.probe_rank
      FROM truth t JOIN pr ON t.query_id = pr.query_id
                          AND t.list_id = pr.list_id
    )
    SELECT n_probe,
           CAST(SUM(CASE WHEN probe_rank <= n_probe THEN 1 ELSE 0 END) AS BIGINT)
             AS hits,
           round(SUM(CASE WHEN probe_rank <= n_probe THEN 1 ELSE 0 END)
                 / {denom}.0, 6) AS recall,
           round(n_probe / {IVFP_LISTS}.0, 6) AS scan_frac,
           (n_probe * {ANN_CURVE_OP_SCAN_DEN} = {IVFP_LISTS} * {ANN_CURVE_OP_SCAN_NUM})
             AS r10_operating_point
    FROM hits CROSS JOIN (VALUES {probes_values}) AS pv(n_probe)
    GROUP BY n_probe
    """


@register(
    "ann_recall_curve",
    oracle=_ann_curve_oracle(),
    covers=("K1-approx", "[EXT]-ann"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] IVF recall-vs-probes tuning curve: recall@{ANN_CURVE_K}
    of the portable-IVF path at every n_probe in {ANN_CURVE_PROBES},
    in ONE pass — the artifact that picks the recall/cost operating
    point (n_probe/n_lists IS the fraction of the corpus scanned, so
    the curve prices recall in scan I/O directly). The full-scan row
    (n_probe = n_lists) must read recall 1.0, anchoring the plumbing.
    The r10_operating_point flag marks the 50%-scan rung — the scan
    fraction where the TRAINED spherical-k-means index demonstrably
    clears recall@10 >= 0.9 while beating brute force 2.35x at 64x
    data (n_lists=128, n_probe=64, kmeans_iters=10;
    evidence/ivf_operating_point_r10.json). On production text
    embeddings (strong cluster structure, unlike this weakly-clustered
    synthetic corpus) the same machinery reaches 0.9 at 1-10% scan.

    Key identity making this one cheap query instead of
    len(probe-ladder) re-runs: with exact re-ranking, a true top-k
    neighbor is recalled iff its LIST is probed (anything beating it
    among candidates also beats it globally, and there are < k such) —
    so per (true-neighbor, query) only the neighbor list's probe RANK
    matters, and every ladder point is a conditional sum over the same
    {ANN_CURVE_PANEL}x{ANN_CURVE_K}-row hit table.

    100 TB posture: the corpus is scanned once for routing + once for
    the brute-force truth of a benchmark-sized panel (the same
    sample-truth pattern as dedup_minhash_eval — the panel is
    broadcast, truth per query is a TakeOrdered-style window over
    panel x corpus scores); everything after the truth top-k collapse
    is bounded by panel x k rows."""
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )
    from fegis_spark.operators.knn import (
        IVFP_LISTS,
        first_arg_sql,
        ivfp_dots,
        ivfp_probe_ranks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cq = emb.select(
        "vec_id", "embedding", F.expr(ivfp_dots("embedding", 64)).alias("__dots")
    )
    # norms once per side of the truth fanout (bit-identical, r14)
    corp = cq.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("__cv"),
        F.expr(norm_sql("embedding")).alias("__cn"),
        F.expr(first_arg_sql("__dots", True)).alias("list_id"),
    )
    panel = cq.filter(F.col("vec_id") < ANN_CURVE_PANEL).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.expr(norm_sql("embedding")).alias("__qn"),
        "__dots",
    )
    pr = ivfp_probe_ranks(panel).select("query_id", "list_id", "probe_rank")
    # panel-ok: WindowGroupLimit(Partial); input pruned to probed lists
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("__score"), F.col("corpus_id")
    )
    truth = (
        corp.crossJoin(F.broadcast(panel.select("query_id", "__qv", "__qn")))  # bcast-ok: k-row query panel
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "__score",
            F.expr(
                cosine_from_parts_sql(dot_sql("__cv", "__qv"), "__cn", "__qn")
            ),
        )
        .withColumn("rank", F.row_number().over(wt))
        .filter(F.col("rank") <= ANN_CURVE_K)
        .select("query_id", "corpus_id", "list_id")
    )
    hits = truth.join(F.broadcast(pr), ["query_id", "list_id"])  # bcast-ok: panel x n_lists probe ranks
    ladder = F.explode(
        F.array(*[F.lit(p) for p in ANN_CURVE_PROBES])
    ).alias("n_probe")
    denom = ANN_CURVE_PANEL * ANN_CURVE_K
    return (
        hits.select("probe_rank", ladder)
        .groupBy("n_probe")
        .agg(
            F.sum((F.col("probe_rank") <= F.col("n_probe")).cast("int"))
            .cast("bigint")
            .alias("hits"),
        )
        .select(
            "n_probe",
            "hits",
            F.round(F.col("hits") / F.lit(float(denom)), 6).alias("recall"),
            F.round(F.col("n_probe") / F.lit(float(IVFP_LISTS)), 6).alias(
                "scan_frac"
            ),
            (
                F.col("n_probe") * ANN_CURVE_OP_SCAN_DEN
                == F.lit(IVFP_LISTS * ANN_CURVE_OP_SCAN_NUM)
            ).alias("r10_operating_point"),
        )
    )


def _label_sep_oracle() -> str:
    """DuckDB restatement of label_separation_audit. Centroids are
    exact-integer micro-unit sums divided once into doubles (the
    label_centroids recipe, all 64 dims); every cross-dim reduction is
    a sequential list fold (the _cos_pair determinism argument), so
    both engines see bit-identical doubles end-to-end."""
    fold_sq = (
        "list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    d_ab = "sqrt(" + fold_sq.format(a="a.c", b="b.c") + ")"
    d_vec = "sqrt(" + fold_sq.format(
        a="CAST(e.embedding AS DOUBLE[])", b="ct.c"
    ) + ")"
    return f"""
    WITH q AS (
      SELECT label, dim,
             -- lint: allow R3 (BIGINT summand — exact integer micro-units)
             CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS qs,
             COUNT(*) AS n
      FROM (
        SELECT label, CAST(r.range AS INT) AS dim,
               CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN range(1, 65) r
      ) GROUP BY label, dim
    ), centq AS (
      SELECT label, MAX(n) AS n, list(qs ORDER BY dim) AS ql
      FROM q GROUP BY label
    ), cent AS (
      SELECT label, n,
             list_transform(ql, v -> CAST(v AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) AS c
      FROM centq
    ), nearest AS (
      SELECT la AS label, lb AS nearest_label, d FROM (
        SELECT a.label AS la, b.label AS lb, {d_ab} AS d,
               row_number() OVER (PARTITION BY a.label
                                  ORDER BY {d_ab}, b.label) AS rn
        FROM cent a JOIN cent b ON a.label <> b.label
      ) WHERE rn = 1
    ), intra AS (
      SELECT e.label,
             COUNT(*) AS n,
             -- lint: allow R3 (BIGINT summand — exact integer micro-units)
             CAST(SUM(CAST(round({d_vec} * 1e6) AS BIGINT)) AS BIGINT) AS intra_qsum
      FROM embeddings e JOIN cent ct ON e.label = ct.label
      GROUP BY e.label
    )
    SELECT i.label, i.n, i.intra_qsum, nr.nearest_label,
           round(nr.d, 6) AS nearest_dist,
           round(((nr.d * CAST(i.n AS DOUBLE)) * 1e6)
                 / nullif(CAST(i.intra_qsum AS DOUBLE), 0e0), 6) AS separation
    FROM intra i JOIN nearest nr ON i.label = nr.label
    """


@register(
    "label_separation_audit",
    oracle=_label_sep_oracle(),
    covers=("[EXT]-centroids", "K9-embedding"),
)
def label_separation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding label-separation audit (Davies-Bouldin-style):
    per label, the exact micro-unit mass of intra-class distances to
    the label centroid, the NEAREST other centroid and its distance,
    and the separation ratio nearest_dist / mean_intra_scatter — the
    'are these labels actually separable in embedding space' gate run
    before training a classifier head or trusting label-balanced
    sampling. separation >> 1 = compact well-separated classes; ~1 =
    overlapping.

    Determinism: centroids from exact-integer micro-unit sums (the
    label_centroids recipe, all 64 dims); every cross-dim reduction is
    a sequential array fold so both engines see identical doubles;
    the corpus-sized intra mean rides an exact integer sum + count
    (R6 rule), with the division deferred to the constant-size output.

    100 TB posture: one corpus explode collapsing to |labels|x|dims|
    integer cells (map-side partial agg), centroid table is
    |labels| rows -> broadcast back for the intra pass (second corpus
    scan, no shuffle beyond the |labels|-row agg); the pairwise
    centroid join is |labels|² rows on the driver-side scale."""
    from pyspark import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x"),
    ).withColumn("dim", F.col("d0") + 1)
    q = ex.groupBy("label", "dim").agg(
        F.sum(F.round(F.col("x") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("qs"),
        F.count("*").alias("n"),
    )
    cent = (
        q.groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(F.collect_list(F.struct("dim", "qs"))).alias("sq"),
        )
        .select(
            "label",
            "n",
            F.expr(
                "transform(sq, s -> CAST(s.qs AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))"
            ).alias("c"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fold_sq = (
        "aggregate(zip_with({a}, {b}, (u, v) -> (u - v) * (u - v)), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    d_ab = "sqrt(" + fold_sq.format(a="ca", b="cb") + ")"
    pairs = (
        cent.select(F.col("label").alias("la"), F.col("c").alias("ca"))
        .join(
            cent.select(F.col("label").alias("lb"), F.col("c").alias("cb")),
            F.col("la") != F.col("lb"),
        )
        .withColumn("d", F.expr(d_ab))
    )
    # panel-ok: input is the |labels|^2 centroid-pair table — bounded
    wn = Window.partitionBy("la").orderBy("d", "lb")
    nearest = (
        pairs.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(F.col("la").alias("label"), F.col("lb").alias("nearest_label"), "d")
    )
    d_vec = "sqrt(" + fold_sq.format(
        a="CAST(embedding AS ARRAY<DOUBLE>)", b="c"
    ) + ")"
    intra = (
        emb.join(F.broadcast(cent.select("label", "c")), "label")  # bcast-ok: one row per label (bounded enum)
        .select("label", F.expr(d_vec).alias("dist"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("dist") * 1e6).cast("bigint"))
            .cast("bigint")
            .alias("intra_qsum"),
        )
    )
    return intra.join(F.broadcast(nearest), "label").select(  # bcast-ok: one row per label
        "label",
        "n",
        "intra_qsum",
        "nearest_label",
        F.round("d", 6).alias("nearest_dist"),
        F.round(
            (F.col("d") * F.col("n").cast("double") * F.lit(1e6))
            / F.nullif(F.col("intra_qsum").cast("double"), F.lit(0e0)),
            6,
        ).alias("separation"),
    )


#: per-element micro-unit quantizer for the norm audit (the SRP
#: integer recipe — both engines round doubles half-away-from-zero, so
#: the BIGINT is exact cross-engine; never a decimal cast on floats).
_NORM_Q_SPARK = (
    f"aggregate({int_quant_sql('embedding', True)},"
    " CAST(0 AS BIGINT), (a, v) -> a + v * v)"
)
_NORM_Q_DUCK = (
    "CAST(list_aggregate(list_transform(embedding,"
    " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
    " * CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), 'sum')"
    " AS BIGINT)"
)


@register(
    "embedding_norm_audit",
    oracle=f"""
    WITH q AS (
      SELECT label, {_NORM_Q_DUCK} AS sumsq_q FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN sumsq_q = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vecs,
           MIN(sumsq_q) AS min_sumsq_q,
           MAX(sumsq_q) AS max_sumsq_q,
           CAST(SUM(sumsq_q) AS BIGINT) AS total_sumsq_q
    FROM q GROUP BY label
    """,
    covers=("[EXT]-norm-audit", "[EXT]-centroids"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding-norm health audit: per label, vector count,
    zero-vector count, and min/max/total squared L2 norm in exact
    micro-unit integers — the upstream-failure detector for an
    embedding pipeline (an embedder emitting zeros or collapsing
    norms poisons every cosine downstream; you want the audit to fire
    BEFORE ANN indexes are built from the batch). Quantizing each
    element to micro-units makes every emitted number an exact BIGINT
    both engines agree on bit-for-bit — no float accumulation-order
    dependence, unlike a naive SUM(x*x).

    Scale: one map-side HOF projection into a |labels|-row agg — zero
    joins. total_sumsq_q fits BIGINT to ~10^18 (≈10^4 unit-norm
    vectors of dim 64 per label at micro-unit scale is ~10^13); at
    100 TB route the total through DECIMAL(38,0) transit per the
    money-column recipe, or drop it and keep min/max/counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", F.expr(_NORM_Q_SPARK).alias("sumsq_q"))
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("sumsq_q") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_vecs"),
        F.min("sumsq_q").alias("min_sumsq_q"),
        F.max("sumsq_q").alias("max_sumsq_q"),
        F.sum("sumsq_q").cast("bigint").alias("total_sumsq_q"),
    )


# ---------------------------------------------------------------------------
# Portable product quantization ([EXT]-ann-pq, K1-approx)


def _pq_adc_oracle() -> str:
    """DuckDB restatement of ann_pq_adc: the SAME md5-derived ±1
    codebooks (operators/knn.PQ_BOOKS), exact-integer subspace
    encode (argmax codeword dot, first-max list_position tiebreak),
    nested-list LUT indexing for the ADC sum, (adc DESC, corpus_id)
    total order. Every compared quantity is an exact integer, so code
    arrays AND ADC scores — not just the top-k survivors — are
    bit-identical cross-engine."""
    from fegis_spark.operators.knn import pq_adc_sql, pq_codes_expr, pq_luts_expr

    codes = pq_codes_expr("embedding", spark=False)
    luts = pq_luts_expr("embedding", spark=False)
    score = pq_adc_sql("c.codes", "q.luts")
    return f"""
    WITH corp AS MATERIALIZED (
      SELECT vec_id, {codes} AS codes FROM embeddings
    ), qs AS MATERIALIZED (
      SELECT vec_id, {luts} AS luts FROM embeddings WHERE vec_id < 3
    )
    SELECT query_id, corpus_id, adc, CAST(rank AS BIGINT) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             CAST({score} AS BIGINT) AS adc,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY ({score}) DESC, c.vec_id) AS rank
      FROM corp c CROSS JOIN qs q
    ) WHERE rank <= 3
    """


@register(
    "ann_pq_adc",
    oracle=_pq_adc_oracle(),
    covers=("K1-approx", "[EXT]-ann-pq"),
)
def ann_pq_adc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] product-quantization ANN with asymmetric-distance (ADC)
    scoring — the IVF family's industry-standard compression partner,
    certified the ivfp way: md5-derived ±1 codebooks embedded as
    literals in BOTH engines. dim 64 splits into 8 subspaces of 8
    dims; each corpus vector encodes to 8 small code indices (3-bit
    here; 32x/256x-style compression is the production point of PQ),
    each query precomputes one 8x8 LUT of exact-integer codeword
    dots, and the ADC score is the summed coded LUT entries — for
    constant-norm codebooks this ranking is EXACTLY the L2 ADC
    ranking (see PQ_BOOKS).

    100 TB posture: corpus codes are 8 ints per vector (the corpus
    scan that matters reads codes, not floats), query LUTs broadcast
    (bounded panel), scoring is a pure projection, and the only
    shuffle is the per-query top-k window over candidates. Trained
    codebooks slot into the same expressions as literals (the
    driver round-trip pattern of _pqt_books)."""
    from fegis_spark.operators.knn import PQ_ADC_EXPR, pq_codes_expr, pq_luts_expr

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.expr(pq_codes_expr("embedding")).alias("codes"),
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.expr(pq_luts_expr("embedding")).alias("luts"),
    )
    cand = corpus.crossJoin(F.broadcast(qs))  # bcast-ok: 3 panel query LUTs
    scored = cand.withColumn("adc", F.expr(PQ_ADC_EXPR))
    # panel-ok: row_number + filter(rank <= k) plans
    # WindowGroupLimit(Partial) below the exchange — only top-k per
    # (query, map partition) shuffles, no corpus funnel; the
    # grouped_topk alternative measured 0.59-0.82x of this form
    # (evidence/topk_ab_r12.json), plan pinned in test_plans.py
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "corpus_id", "adc",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _pq_recall_oracle() -> str:
    """DuckDB restatement of ann_pq_recall_audit — unlike the trained
    IVF audit (k-means not replayable), the PQ twin's codebooks are
    literals, so BOTH the ADC and the exact-cosine top-10 sets replay
    and the per-query hit counts are value-checked."""
    from fegis_spark.operators.knn import pq_adc_sql, pq_codes_expr, pq_luts_expr

    codes = pq_codes_expr("embedding", spark=False)
    luts = pq_luts_expr("embedding", spark=False)
    score = pq_adc_sql("c.codes", "q.luts")
    cos = _cos_pair("c.embedding", "q.embedding")
    return f"""
    WITH corp AS MATERIALIZED (
      SELECT vec_id, embedding, {codes} AS codes FROM embeddings
    ), qs AS MATERIALIZED (
      SELECT vec_id, embedding, {luts} AS luts FROM embeddings WHERE vec_id < 8
    ), scored AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             CAST({score} AS BIGINT) AS adc,
             {cos} AS cos
      FROM corp c CROSS JOIN qs q
    ), ranked AS (
      SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc DESC, corpus_id) AS ra,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, corpus_id) AS rc
      FROM scored
    )
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(10 AS BIGINT) AS k
    FROM qs q LEFT JOIN (
      SELECT query_id, COUNT(*) AS hits FROM ranked
      WHERE ra <= 10 AND rc <= 10 GROUP BY query_id
    ) h ON q.vec_id = h.query_id
    """


@register(
    "ann_pq_recall_audit",
    oracle=_pq_recall_oracle(),
    covers=("K1-approx", "[EXT]-ann-pq"),
)
def ann_pq_recall_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] recall@10 audit for the PQ-ADC path: per panel query
    (8 queries), how many of the exact-cosine top-10 the ADC top-10
    recovers. Fully value-checked on both sides (literal codebooks —
    see _pq_recall_oracle); the hit counts measure what 3-bit random
    ±1 codebooks actually buy, honestly — the MACHINERY is the
    certified artifact, trained codebooks raise recall without
    changing a single expression shape. One cross join computes both
    scores; two windows share the per-query partitioning (one
    shuffle)."""
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )
    from fegis_spark.operators.knn import PQ_ADC_EXPR, pq_codes_expr, pq_luts_expr

    emb = load_table(spark, sf_dir, "embeddings")
    # norms once per side of the corpus x panel fanout (bit-identical
    # to cosine(), 1.8x less CPU per pair — r14)
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("cv"),
        F.expr(norm_sql("embedding")).alias("cn"),
        F.expr(pq_codes_expr("embedding")).alias("codes"),
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql("embedding")).alias("qn"),
        F.expr(pq_luts_expr("embedding")).alias("luts"),
    )
    cand = corpus.crossJoin(F.broadcast(qs))  # bcast-ok: 8 panel queries
    scored = cand.select(
        "query_id", "corpus_id",
        F.expr(PQ_ADC_EXPR).alias("adc"),
        F.expr(
            cosine_from_parts_sql(dot_sql("qv", "cv"), "qn", "cn")
        ).alias("cos"),
    )
    # BOTH top-10 sets in ONE window-free pass (r11 verdict #1): the
    # two bounded-panel windows funneled corpus x panel into <=8 tasks
    # twice; here one (query, input-partition) aggregation keeps a
    # bounded (adc, id) and (cos, id) slice per partition, the merge
    # sees <= 10 x partitions rows per query, and the hit count is the
    # intersection of the two id arrays — same (DESC, corpus_id)
    # total order as row_number on both rankings
    sa = F.struct((-F.col("adc")).alias("v"), F.col("corpus_id").alias("i"))
    sc = F.struct((-F.col("cos")).alias("v"), F.col("corpus_id").alias("i"))
    part = scored.groupBy(
        "query_id", F.spark_partition_id().alias("__p")
    ).agg(
        F.slice(F.sort_array(F.collect_list(sa)), 1, 10).alias("aa"),
        F.slice(F.sort_array(F.collect_list(sc)), 1, 10).alias("ac"),
    )
    merged = part.groupBy("query_id").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("aa"))), 1, 10).alias("aa"),
        F.slice(F.sort_array(F.flatten(F.collect_list("ac"))), 1, 10).alias("ac"),
    )
    hits = merged.select(
        "query_id",
        F.size(
            F.array_intersect(
                F.expr("transform(aa, x -> x.i)"),
                F.expr("transform(ac, x -> x.i)"),
            )
        ).alias("h"),
    )
    return (
        qs.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hits"),
            F.lit(10).cast("bigint").alias("k"),
        )
    )


def _ivfpq_oracle() -> str:
    """DuckDB restatement of ann_ivfpq_portable: ivfp routing
    (exact-integer dots, first-max assignment, top-n_probe probes)
    composed with PQ-ADC scoring over the probed lists only — the
    candidate sets AND the ADC scores are exact integers, so the
    whole composed index replays value-for-value."""
    from fegis_spark.operators.knn import (
        IVFP_LISTS,
        IVFP_PROBE,
        first_arg_sql,
        ivfp_probe_rank_sql,
        pq_adc_sql,
        pq_codes_expr,
        pq_luts_expr,
    )

    codes = pq_codes_expr("embedding", spark=False)
    luts = pq_luts_expr("embedding", spark=False)
    score = pq_adc_sql("c.codes", "p.luts")
    return f"""
    WITH {_ivfp_cq()}, corp AS MATERIALIZED (
      SELECT vec_id AS corpus_id,
             {first_arg_sql("dots", False)} AS list_id,
             {codes} AS codes
      FROM cq
    ), probes AS MATERIALIZED (
      SELECT query_id, luts, list_id FROM (
        SELECT vec_id AS query_id, {luts} AS luts,
               CAST(r.range AS INT) AS list_id,
               {ivfp_probe_rank_sql("vec_id", 15)} AS rn
        FROM cq CROSS JOIN range(0, {IVFP_LISTS}) r
        WHERE vec_id < 3
      ) WHERE rn <= {IVFP_PROBE}
    )
    SELECT query_id, corpus_id, adc, CAST(rank AS BIGINT) AS rank FROM (
      SELECT p.query_id, c.corpus_id,
             CAST({score} AS BIGINT) AS adc,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY ({score}) DESC, c.corpus_id) AS rank
      FROM corp c JOIN probes p USING (list_id)
    ) WHERE rank <= 3
    """


@register(
    "ann_ivfpq_portable",
    oracle=_ivfpq_oracle(),
    covers=("K1-approx", "[EXT]-ann-pq", "[EXT]-ann"),
)
def ann_ivfpq_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the composed production index: IVF routing + PQ-ADC
    scoring (IVF-PQ — what FAISS/Qdrant/Milvus actually run at
    scale). Corpus rows carry (list_id, codes): the inverted-list
    assignment prunes the scan to n_probe/n_lists of the corpus, and
    within the probed lists scoring touches only the 8-int PQ codes —
    the two independent scale levers (scan fraction x bytes-per-
    vector) composed. Both halves use their certified portable twins
    (ivfp routing, pq codebooks), every compared quantity is an exact
    integer, and the oracle replays candidate sets and scores
    value-for-value.

    100 TB posture: list_id is the partition layout (partition-pruned
    candidate fetch, see build_ivf_index), codes replace float
    vectors in the scanned bytes (~32x), query probe-LUT pairs
    broadcast, per-query top-k window over candidates only. Trained
    centroids/codebooks slot in as literals without changing the
    plan."""
    from fegis_spark.operators.knn import (
        IVFP_PROBE,
        PQ_ADC_EXPR,
        first_arg_sql,
        ivfp_dots,
        ivfp_probe_ranks,
        pq_codes_expr,
        pq_luts_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dots = ivfp_dots("embedding", 64)
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.expr(dots).alias("__dots"),
        F.expr(pq_codes_expr("embedding")).alias("codes"),
    ).select(
        "corpus_id", "codes", F.expr(first_arg_sql("__dots", True)).alias("list_id")
    )
    qd = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.expr(pq_luts_expr("embedding")).alias("luts"),
        F.expr(dots).alias("__dots"),
    )
    probes = (
        ivfp_probe_ranks(qd, "luts")
        .filter(F.col("probe_rank") <= IVFP_PROBE)
        .select("query_id", "luts", "list_id")
    )
    cand = corpus.join(F.broadcast(probes), "list_id")  # bcast-ok: n_probe probe rows per panel query
    scored = cand.withColumn("adc", F.expr(PQ_ADC_EXPR))
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled probed codes to k per (query, map partition)
    wk = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "corpus_id", "adc",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


#: ann_pq_rerank geometry: ADC shortlist size and final k
PQ_RERANK_SHORTLIST = 100
PQ_RERANK_K = 10


def _pq_rerank_oracle() -> str:
    """DuckDB restatement of ann_pq_rerank: exact-integer ADC
    shortlist (rank <= shortlist with the (adc DESC, corpus_id) total
    order), then the established sequential-fold cosine re-rank over
    ONLY the shortlisted ids. Both stages replay value-for-value."""
    from fegis_spark.operators.knn import pq_adc_sql, pq_codes_expr, pq_luts_expr

    codes = pq_codes_expr("embedding", spark=False)
    luts = pq_luts_expr("embedding", spark=False)
    score = pq_adc_sql("c.codes", "q.luts")
    cos = _cos_pair("f.cv", "f.qv")
    return f"""
    WITH corp AS MATERIALIZED (
      SELECT vec_id, {codes} AS codes FROM embeddings
    ), qs AS MATERIALIZED (
      SELECT vec_id, embedding, {luts} AS luts FROM embeddings WHERE vec_id < 3
    ), short AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY ({score}) DESC, c.vec_id) AS rs
        FROM corp c CROSS JOIN qs q
      ) WHERE rs <= {PQ_RERANK_SHORTLIST}
    ), fetched AS (
      SELECT s.query_id, s.corpus_id, e.embedding AS cv, q.embedding AS qv
      FROM short s
      JOIN embeddings e ON s.corpus_id = e.vec_id
      JOIN qs q ON s.query_id = q.vec_id
    )
    SELECT query_id, corpus_id, cos_score AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT f.query_id, f.corpus_id, {cos} AS cos_score,
             row_number() OVER (PARTITION BY f.query_id
                                ORDER BY {cos} DESC, f.corpus_id) AS rank
      FROM fetched f
    ) WHERE rank <= {PQ_RERANK_K}
    """


@register(
    "ann_pq_rerank",
    oracle=_pq_rerank_oracle(),
    covers=("K1-approx", "[EXT]-ann-pq"),
)
def ann_pq_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the PRODUCTION PQ operating mode: codes build an ADC
    shortlist, exact cosine re-ranks only the shortlist — PQ as a
    pruning device for exact work, not a ranking replacement. The
    evidence for why this is the right shape is measured, not argued:
    on a topic-clustered corpus flat/residual codes alone rank
    within-cluster noise at recall ~0.16-0.26, while an ADC shortlist
    of 1.25% of the corpus re-ranked exactly reaches 0.90 and 3%
    reaches 1.00 (evidence/pq_rerank_r11.json).

    100 TB posture: stage 1 scans the 8-int codes table (31.8x
    smaller, evidence/pq_adc_ab_r11.json) with broadcast query LUTs;
    stage 2 fetches shortlist×queries vectors via a broadcast id join
    against the float table — the exact-distance work drops from
    |corpus| to |shortlist| per query. Both stages are deterministic
    (exact-integer ADC + the established cosine recipe), so the
    composed two-stage plan is fully oracle-checked."""
    from fegis_spark.operators.knn import pq_codes_expr, pq_luts_expr

    return _pq_rerank(
        load_table(spark, sf_dir, "embeddings"),
        pq_codes_expr("embedding"),
        pq_luts_expr("embedding"),
        F.desc("adc"),
    ).drop("adc")


def _pq_rerank(emb: DataFrame, codes: str, luts: str, adc_order: Column) -> DataFrame:
    """The one PQ shortlist → exact re-rank body (ann_pq_rerank and
    ann_pq_rerank_trained): the ``codes``/``luts`` expressions score
    every corpus row against the 3 panel queries by PQ_ADC_EXPR, the
    PQ_RERANK_SHORTLIST best by (``adc_order``, corpus_id) are fetched,
    and exact cosine re-ranks them → (query_id, corpus_id, adc, score,
    rank <= PQ_RERANK_K)."""
    from fegis_spark.functions.vector import cosine
    from fegis_spark.operators.knn import PQ_ADC_EXPR

    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.expr(codes).alias("codes")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(luts).alias("luts"),
    )
    cand = corpus.crossJoin(F.broadcast(qs.select("query_id", "luts")))  # bcast-ok: 3 panel query LUTs
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled candidates to shortlist-size per (query, map partition);
    # adc is materialized as a column so the order key is attribute-only
    ws = Window.partitionBy("query_id").orderBy(adc_order, F.col("corpus_id"))
    short = (
        cand.withColumn("adc", F.expr(PQ_ADC_EXPR))
        .withColumn("rs", F.row_number().over(ws))
        .filter(F.col("rs") <= PQ_RERANK_SHORTLIST)
        .select("query_id", "corpus_id", "adc")
    )
    fetch = (
        emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
        .join(F.broadcast(short), "corpus_id")  # bcast-ok: shortlist×panel id pairs
        .join(F.broadcast(qs.select("query_id", "qv")), "query_id")  # bcast-ok: 3 panel query vectors
    )
    # panel-ok: input is shortlist x panel rows — bounded. The cosine
    # is materialized ONCE as a column (r14): the old form evaluated
    # the 3-fold expression twice (window order key + output) and the
    # attribute order key is also the WindowGroupLimit-friendly shape.
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("corpus_id")
    )
    return (
        # UNROUNDED by the r8 rule: the sequential-fold cosine's
        # operands are identical cross-engine (float32 entries
        # upcast to double, left fold, sqrt/div correctly rounded),
        # so the quotient is bit-identical — round(x, 6) would
        # reintroduce the .5e-6 midpoint tie-break class (ADVICE r11)
        fetch.withColumn("score", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= PQ_RERANK_K)
        .select(
            "query_id", "corpus_id", "adc", "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# r12: TRAINED portable PQ ([EXT]-ann-pq) — the books are data-derived
# (rng-free integer-exact Lloyd, operators/knn.train_pq_books_portable)
# and the oracle RETRAINS them from the same table, closing the r11
# verdict #3 gap (trained PQ lived only in the library tier).


def _pqt_books(spark: SparkSession, sf_dir: str) -> list:
    """Trained books, memoized on the embeddings table's stamp
    (model.table_memo): the gate builds each query several times (plan
    pins, row compare) and the trainer is deterministic."""
    from fegis_spark.operators.knn import train_pq_books_portable

    return table_memo(
        spark,
        sf_dir,
        "embeddings",
        "pq_books",
        lambda: train_pq_books_portable(
            load_table(spark, sf_dir, "embeddings"), "vec_id"
        ),
    )


def _pqt_rerank_oracle() -> str:
    """DuckDB restatement of ann_pq_rerank_trained that RETRAINS the
    codebooks (pq_trained_books_sql — bit-identical to the Python
    trainer, pinned in tests/test_pq_trained.py), re-encodes the
    corpus via the same L2-form argmin, replays the ascending-ADC
    shortlist and the exact sequential-fold cosine re-rank. Every
    compared quantity is an exact integer or a bit-identical double."""
    from fegis_spark.operators.knn import (
        PQ_DSUB,
        PQ_M,
        pq_trained_books_sql,
    )

    cos = _cos_pair("f.cv", "f.qv")
    return f"""
    WITH {pq_trained_books_sql()},
    pqt_qc AS MATERIALIZED (
      SELECT vec_id, CAST(g1.range AS INT) AS m, CAST(g2.range AS INT) AS d,
             CAST(round(CAST(embedding[CAST(g1.range AS INT) * {PQ_DSUB}
                                       + CAST(g2.range AS INT) + 1] AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS q
      FROM embeddings
      CROSS JOIN range(0, {PQ_M}) g1 CROSS JOIN range(0, {PQ_DSUB}) g2
    ),
    pqt_lv AS MATERIALIZED (
      SELECT s.vec_id, s.m, b.j,
             CAST(SUM(b.c * b.c - 2 * s.q * b.c) AS BIGINT) AS lv
      FROM pqt_qc s JOIN pqt_books b ON s.m = b.m AND s.d = b.d
      GROUP BY s.vec_id, s.m, b.j
    ),
    pqt_codes AS MATERIALIZED (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY lv, j) AS r
        FROM pqt_lv
      ) WHERE r = 1
    ),
    pqt_adc AS MATERIALIZED (
      SELECT c.vec_id AS corpus_id, l.vec_id AS query_id,
             CAST(SUM(l.lv) AS BIGINT) AS adc
      FROM pqt_codes c JOIN pqt_lv l ON c.m = l.m AND c.code = l.j
      WHERE l.vec_id < 3
      GROUP BY c.vec_id, l.vec_id
    ),
    pqt_short AS (
      SELECT query_id, corpus_id, adc FROM (
        SELECT query_id, corpus_id, adc,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, corpus_id) AS rs
        FROM pqt_adc
      ) WHERE rs <= {PQ_RERANK_SHORTLIST}
    ),
    pqt_fetched AS (
      SELECT s.query_id, s.corpus_id, s.adc,
             e.embedding AS cv, q.embedding AS qv
      FROM pqt_short s
      JOIN embeddings e ON s.corpus_id = e.vec_id
      JOIN embeddings q ON s.query_id = q.vec_id
    )
    SELECT query_id, corpus_id, adc, cos_score AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT f.query_id, f.corpus_id, f.adc, {cos} AS cos_score,
             row_number() OVER (PARTITION BY f.query_id
                                ORDER BY {cos} DESC, f.corpus_id) AS rank
      FROM pqt_fetched f
    ) WHERE rank <= {PQ_RERANK_K}
    """


@register(
    "ann_pq_rerank_trained",
    oracle=_pqt_rerank_oracle(),
    covers=("K1-approx", "[EXT]-ann-pq"),
)
def ann_pq_rerank_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the production PQ operating mode with TRAINED codebooks
    (r11 verdict #3): books come from the rng-free integer-exact Lloyd
    trainer (driver round-trip over a bounded md5-bucket sample,
    memoized per sf), enter the plan as literals via
    pq_trained_codes_expr/pq_trained_luts_expr, the ADC shortlist
    ranks ASCENDING (L2-form distances, not ±1 similarity dots), and
    exact cosine re-ranks the shortlist. The oracle retrains the same
    books in SQL — the whole trained path (sample → train → encode →
    shortlist → re-rank) is value-checked cross-engine, which the
    demo-book queries could not claim for training.

    100 TB posture: identical to ann_pq_rerank (codes-table stage-1
    scan, broadcast LUTs, WindowGroupLimit-bounded shuffles, bounded
    exact re-rank); training cost is one bounded sample collect —
    the FAISS posture at any corpus scale. Trained-vs-demo recall at
    equal shortlist fractions is measured in
    evidence/pq_trained_recall_r12.json (SCALE.md)."""
    from fegis_spark.operators.knn import (
        pq_trained_codes_expr,
        pq_trained_luts_expr,
    )

    books = _pqt_books(spark, sf_dir)
    return _pq_rerank(
        load_table(spark, sf_dir, "embeddings"),
        pq_trained_codes_expr(books, "embedding"),
        pq_trained_luts_expr(books, "embedding"),
        F.asc("adc"),
    )
