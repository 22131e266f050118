"""KNN similarity join + ANN scale paths (SURVEY.md §2.3 K8, [EXT]).

Three tiers, by corpus x query scale:

1. ``knn_join``       — exact: broadcast the (small) query side, cross
   join, per-query top-k via window. Correctness tier and the right
   plan whenever |queries| x dim fits in a broadcast (≲100 MB):
   corpus never shuffles, scores stream partition-local, the only
   shuffle is the final top-k window on query_id.
2. ``knn_join_lsh``   — MLlib BucketedRandomProjectionLSH
   approxSimilarityJoin: candidate pairs only from colliding hash
   buckets; scales to corpus x corpus at 100 TB.
3. ``ann_ivf``        — inverted-file ANN: k-means-lite centroids
   (deterministic seed), corpus partitioned by nearest centroid,
   queries probe nprobe nearest lists — the classic IVF-Flat layout
   expressed relationally (centroid assignment = broadcast join +
   argmin; probe = semi-join on centroid id).

Every trained-centroid assignment (ann_ivf, the stored index, its
streaming append, operators/dedup.semantic_dedup_trained) goes through
the one assigner ``_nearest_lists``. The oracle-checkable twins
(portable IVF, PQ-ADC, trained PQ, and SRP codes in operators/dedup)
build on the exact-integer projection kernel in functions/vector.py
(md5_signs, int_quant_sql, int_dot_sql); their list routing is
spelled once per engine here (ivfp_dots, first_arg_sql,
ivfp_probe_ranks / ivfp_probe_rank_sql).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fegis_spark.functions.vector import (
    INT_SCALE,
    array_sql,
    cosine_from_parts_sql,
    dot_sql,
    int_dot_sql,
    int_quant_sql,
    md5_signs,
    norm_sql,
)
from fegis_spark.queries.sqlfrag import md5_int_sql

#: per-pair cosine with per-SIDE precomputed norms — bit-identical to
#: cosine() (pinned in tests/test_search.py) at 1 HOF dot per pair
#: instead of 3 folds; measured 1.8x less JVM CPU per pair at dim 64
#: (evidence/cosine_codegen_ab_r14.json). Every panel-scoring site
#: below computes each row's norm ONCE before its join.


def _parts(dot_a: str, dot_b: str, na: str, nb: str) -> Column:
    return F.expr(cosine_from_parts_sql(dot_sql(dot_a, dot_b), na, nb))


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact batch KNN: every query row against the full corpus.

    Output: (query_id, corpus_id, score, rank<=k). Deterministic: ties
    break on corpus id ascending.
    """
    q = queries_df.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_sql(vec_col)).alias("__qn"),
    )
    c = corpus_df.select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(vec_col).alias("__cv"),
        # corpus norm once per row, not once per (row, query)
        F.expr(norm_sql(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))  # bcast-ok: 1-row query vector
        .withColumn("score", _parts("__qv", "__cv", "__qn", "__cn"))
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    # panel-ok: row_number + filter(rank <= k) plans
    # WindowGroupLimit(Partial) BELOW the exchange — each map task
    # emits only top-k per (query, partition), so the exchange carries
    # <= k x partitions x |panel| rows and there is NO corpus funnel.
    # The grouped_topk two-stage aggregate was A/B'd here and measured
    # 0.59-0.82x of this form (evidence/topk_ab_r12.json); pinned in
    # tests/test_plans.py::test_panel_topk_partial_group_limit.
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: BRP-LSH geometry (knn_join_lsh, lsh_bucket_stats): hash tables per
#: model and the approxSimilarityJoin Euclidean distance cap
LSH_TABLES = 3
LSH_MAX_DISTANCE = 10.0


def _features(df: DataFrame, vec_col: str, *cols: Column) -> DataFrame:
    """``cols`` plus the vector as the MLlib "features" column of the
    BRP-LSH operators. A NULL vector takes no part: its row is dropped
    (MLlib's array_to_vector fails on NULL)."""
    from pyspark.ml.functions import array_to_vector

    return df.filter(F.col(vec_col).isNotNull()).select(
        *cols, array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )


def _brp_model(feats: DataFrame):
    """The one seeded BRP-LSH fit (seed 42, LSH_TABLES tables) over
    ``feats``' "features" column (a _features frame). The bucket
    length is sigma/2 = 0.5/sqrt(dim), dim read from the first
    features row (1-row bounded driver round-trip; 64 when there is
    none): a unit vector projects onto a random unit
    hyperplane with std 1/sqrt(dim), so any fixed bucket length >>
    sigma puts every row in the one or two buckets around zero and the
    per-table equi-join degenerates to ~n^2/2 brute force (the r11
    occupancy find — 51% single-bucket at the old fixed 2.0-4.0
    lengths; sigma/2 measures max occupancy ~0.2,
    evidence/brp_occupancy_r12.json)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    first = feats.select("features").head()
    dim = first[0].size if first is not None else 64
    return BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5 / dim ** 0.5,
        numHashTables=LSH_TABLES,
        seed=42,
    ).fit(feats)


def knn_join_lsh(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Approximate KNN via random-projection LSH (Euclidean proxy for
    cosine on normalized vectors; model and bucket length from
    _brp_model). Candidate generation is a bucket equi-join — no cross
    product. Rows-only correctness (approximate by construction)."""
    q = _features(queries_df, vec_col, F.col(query_id).alias("query_id"))
    c = _features(corpus_df, vec_col, F.col(corpus_id).alias("corpus_id"))
    model = _brp_model(c)
    pairs = model.approxSimilarityJoin(c, q, LSH_MAX_DISTANCE, distCol="dist")
    flat = pairs.select(
        F.col("datasetB.query_id").alias("query_id"),
        F.col("datasetA.corpus_id").alias("corpus_id"),
        F.col("dist"),
    )
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled candidates to k per (query, map partition) — see knn_join
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.col("corpus_id"))
    return (
        flat.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucket_stats(corpus_df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row occupancy audit of the BRP-LSH bucket layout (hash table
    0 of the same _brp_model fit knn_join_lsh uses): (n_rows,
    n_buckets, max_bucket). The observable behind the r11/r12
    degeneracy finds — a fixed bucket length >> sigma collapses the
    table to ~2 buckets and the bucket equi-join to ~n^2/2 brute
    force; the derived sigma/2 length measures 12-14 buckets / <=0.21
    max share at every sf (evidence/brp_occupancy_r12.json,
    ann_lsh_recall_audit)."""
    from pyspark.ml.functions import vector_to_array

    c = _features(corpus_df, vec_col)
    t = _brp_model(c).transform(c).select(
        vector_to_array(F.col("hashes")[0])[0].cast("bigint").alias("b0")
    )
    return (
        t.groupBy("b0")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.max("n").cast("bigint").alias("max_bucket"),
        )
    )


def ivf_training_sample(
    corpus_df: DataFrame, corpus_id: str, vec_col: str, target: int
) -> DataFrame:
    """Deterministic bounded centroid-training sample with no global
    ordering: md5-bucket the row *id* (never the vector — no full-corpus
    vector-to-string cast) and keep hashes under a cutoff sized from a
    cheap count so the expected yield is ~1.2x target. The plan is
    scan + filter — no Sort/TakeOrdered over the corpus (pinned in
    tests/test_plans.py); the caller trims to exactly `target` rows
    driver-side by (hash, id), which is total-ordered and bounded.
    NULL vectors are dropped after the cutoff, while ``n`` stays the
    full row count — a table without NULLs samples the same rows
    either way (pq_trained_books_sql mirrors both choices).
    """
    n = corpus_df.select(corpus_id).count()
    frac = min(1.0, (1.2 * target) / max(n, 1))
    h = F.expr(
        md5_int_sql(f"concat('ivf-sample:', CAST({corpus_id} AS STRING))", 8, spark=True)
    )
    return (
        corpus_df.select(
            F.col(corpus_id).cast("string").alias("__id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            h.alias("__h"),
        )
        .filter(F.col("__h") <= int(frac * 0xFFFFFFFF))
        .filter(F.col("v").isNotNull())
    )


def ann_ivf(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 10,
    distributed: bool | None = None,
) -> DataFrame:
    """IVF-Flat ANN, relationally: train centroids (deterministic —
    sampled numpy k-means for small n_lists, seeded MLlib k-means||
    when n_lists > 64 or distributed=True; see _train_centroids),
    assign corpus rows to nearest list (one broadcast join at build
    time — at scale this is the partition/bucket layout written once),
    then each query scans only its n_probe nearest lists. Recall < 1
    by design → rows-only correctness tier."""
    cent_df = _centroid_frame(
        corpus_df, corpus_id, vec_col, n_lists, kmeans_iters, distributed
    )
    corpus_assigned = _nearest_lists(
        corpus_df.select(corpus_id, vec_col), cent_df, vec_col, corpus_id, 1
    )
    query_probes = _nearest_lists(
        queries_df.select(query_id, vec_col), cent_df, vec_col, query_id, n_probe
    ).select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("__rn").alias("__qn"),
        "list_id",
    )

    cand = corpus_assigned.join(query_probes, "list_id").withColumn(
        "score", _parts(vec_col, "__qv", "__rn", "__qn")
    )
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled probed candidates to k per (query, map partition)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(corpus_id).alias("corpus_id"), "score", "rank")
    )


def _train_centroids(
    corpus_df: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_lists: int,
    kmeans_iters: int,
    distributed: bool | None = None,
):
    """Deterministic centroid training (shared by ann_ivf,
    build_ivf_index and semantic_dedup_trained via _centroid_frame).
    Two routes behind one signature:

    * small n_lists (<= 64, the local default): bounded md5-bucket
      sample (<= max(32·n_lists, 512) rows) + seeded SPHERICAL
      k-means on the driver — k-means++ init over cosine distance,
      Lloyd steps whose centroids are renormalized to the unit sphere
      each round, empty clusters reseeded to the worst-assigned point.
      Spherical training matches the ASSIGNMENT metric (_nearest_lists
      ranks by cosine): Euclidean centroids over unnormalized means
      systematically misroute borderline vectors. The r10 sweep
      (evidence/ivf_operating_point_r10.json) reaches recall@10 = 0.90
      at 2.21x over brute force with this route (n_lists=64,
      n_probe=32, 64x data); the finer 128-list point (0.956 at 2.35x)
      auto-routes to the MLlib trainer below. Plan-clean, no corpus
      ordering.
    * large n_lists (or distributed=True): MLlib KMeans with seeded
      k-means|| init over the FULL corpus — at 100 TB you want
      n_lists ~1e4-1e5, where a 32·n_lists driver sample is itself a
      multi-GB collect; the distributed route materializes nothing on
      the driver beyond the k×dim centroid matrix (the r4-advised
      swap). Same seed ⇒ same centroids run-over-run.
    """
    if distributed is None:
        distributed = n_lists > 64
    if distributed:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = corpus_df.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(
            k=n_lists,
            maxIter=kmeans_iters,
            seed=42,
            initMode="k-means||",
            featuresCol="features",
        ).fit(feat)
        return [
            (int(i), [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    import numpy as np

    target = max(n_lists * 32, 512)
    sample = ivf_training_sample(corpus_df, corpus_id, vec_col, target).collect()
    if not sample:
        return []  # empty corpus: no lists, so every assignment is empty
    sample.sort(key=lambda r: (r["__h"], r["__id"]))
    X = np.array([r["v"] for r in sample[:target]], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    Xn = X / norms
    rng = np.random.default_rng(42)
    k = min(n_lists, len(Xn))
    # k-means++ over cosine distance (1 - dot on the unit sphere)
    cent = np.empty((k, Xn.shape[1]), dtype=np.float64)
    cent[0] = Xn[int(rng.integers(len(Xn)))]
    dist = np.maximum(1.0 - Xn @ cent[0], 0.0)
    for j in range(1, k):
        tot = dist.sum()
        idx = (
            int(rng.choice(len(Xn), p=dist / tot))
            if tot > 0
            else int(rng.integers(len(Xn)))
        )
        cent[j] = Xn[idx]
        dist = np.minimum(dist, np.maximum(1.0 - Xn @ cent[j], 0.0))
    for _ in range(kmeans_iters):
        sims = Xn @ cent.T
        assign = sims.argmax(1)
        best = sims.max(1)
        for j in range(k):
            pts = Xn[assign == j]
            if len(pts):
                m = pts.sum(0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[j] = m / n
            else:
                # reseed a dead list to the worst-served point
                cent[j] = Xn[int(best.argmin())]
    return [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]


def _centroid_frame(
    corpus_df: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_lists: int,
    kmeans_iters: int,
    distributed: bool | None,
) -> DataFrame:
    """_train_centroids as a (list_id, centroid) frame."""
    return corpus_df.sparkSession.createDataFrame(
        _train_centroids(
            corpus_df, corpus_id, vec_col, n_lists, kmeans_iters, distributed
        ),
        "list_id int, centroid array<double>",
    )


def _nearest_lists(
    df: DataFrame, cent_df: DataFrame, vec_col: str, id_alias: str, n_keep: int
) -> DataFrame:
    """The one nearest-centroid assigner: each row of ``df`` keeps its
    ``n_keep`` most cosine-similar lists of ``cent_df`` (list_id,
    centroid), ties to the lower list_id. Adds list_id, the row norm
    ``__rn`` (reused by probe scans) and the centroid cosine
    ``__sim``. A NULL vector takes no part: its row is dropped (every
    centroid cosine would be NULL and the list_id tie-break would file
    it under list 0). Norms are precomputed per side (row norm once
    per row, centroid norms once on the panel — bit-identical to the cosine()
    fold, 1.8x less CPU per pair; evidence/cosine_codegen_ab_r14.json).
    """
    cents = cent_df.withColumn("__ctn", F.expr(norm_sql("centroid")))
    scored = (
        df.filter(F.col(vec_col).isNotNull())
        .withColumn("__rn", F.expr(norm_sql(vec_col)))
        .crossJoin(F.broadcast(cents))  # bcast-ok: n_lists centroids
        .withColumn("__sim", _parts(vec_col, "centroid", "__rn", "__ctn"))
    )
    # grpwin-ok: per-row id partition key — count scales with input
    w = Window.partitionBy(id_alias).orderBy(F.desc("__sim"), F.col("list_id"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_keep)
        .drop("centroid", "__ctn", "__r")
    )


def ivf_corpus_dir(path: str) -> str:
    """Resolve the CURRENT committed corpus directory of a stored
    IVF/IVF-PQ index. r14: the corpus is versioned —
    ``{path}/corpus_v{N}`` with N resolved through the
    ``{path}/_commits`` marker log (fegis_spark/commitlog.py:
    write-new-file / read-max, no rename) — so compaction publishes a
    NEW version and commits it with one atomic marker PUT instead of
    the r13 rename-aside swap, which had a reader-visible gap and
    assumed rename-atomic storage. Falls back to the legacy
    ``{path}/corpus`` layout when no commit log exists."""
    from fegis_spark.commitlog import committed_epoch

    v = committed_epoch(path)
    return f"{path}/corpus_v{v}" if v >= 0 else f"{path}/corpus"


def build_ivf_index(
    corpus_df: DataFrame,
    path: str,
    corpus_id: str,
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 10,
    distributed: bool | None = None,
) -> None:
    """Index-once half of the production IVF flow: train centroids,
    assign every corpus vector to its nearest list, and write

    * ``{path}/corpus_v0`` — parquet PARTITIONED BY list_id (one
      directory per inverted list; at 100 TB this is the layout that
      turns probing into partition pruning instead of row filtering),
      committed as version 0 in the ``{path}/_commits`` marker log
      (see ivf_corpus_dir)
    * ``{path}/centroids`` — the tiny centroid table.

    Build cost: one broadcast centroid join + one partitioned write.
    distributed=None auto-routes: n_lists > 64 trains via seeded MLlib
    k-means|| (no driver-side sample), else the numpy sample path —
    see _train_centroids.
    """
    cent_df = _centroid_frame(
        corpus_df, corpus_id, vec_col, n_lists, kmeans_iters, distributed
    )
    assigned = _nearest_lists(
        corpus_df.select(corpus_id, vec_col), cent_df, vec_col, corpus_id, 1
    ).drop("__rn", "__sim")
    from fegis_spark.commitlog import commit_epoch

    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/corpus_v0"
    )
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids")
    commit_epoch(path, 0)


def ann_ivf_indexed(
    spark,
    path: str,
    queries_df: DataFrame,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Query-many half: read the stored index and scan ONLY the probed
    lists. The probe set joins the corpus on its partition column
    (list_id), so Spark's dynamic partition pruning restricts the
    corpus scan to n_probe directories per query batch — the scan cost
    is |corpus| × n_probe / n_lists, not |corpus| (pinned in
    tests/test_ivf_index.py via PartitionFilters: [dynamicpruning#…]).
    Same candidate set and ranking as ann_ivf with equal parameters.
    """
    cent_df = spark.read.parquet(f"{path}/centroids")
    corpus = spark.read.parquet(ivf_corpus_dir(path))
    probes = _nearest_lists(
        queries_df.select(query_id, vec_col), cent_df, vec_col, query_id, n_probe
    ).select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("__rn").alias("__qn"),
        "list_id",
    )
    corpus_id = [c for c in corpus.columns if c not in (vec_col, "list_id")][0]
    cand = (
        # corpus norm once per scanned row, not once per probe match
        corpus.withColumn("__cn", F.expr(norm_sql(vec_col)))
        .join(F.broadcast(probes), "list_id")  # bcast-ok: n_probe probe list ids
        .withColumn("score", _parts(vec_col, "__qv", "__cn", "__qn"))
    )
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled probed candidates to k per (query, map partition)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(corpus_id).alias("corpus_id"), "score", "rank")
    )


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a batch of new vectors to
    their nearest stored centroid and APPEND them to the partitioned
    corpus — no retrain, no rewrite of existing lists. This is the
    foreachBatch body for a streaming ingest feeding the ANN index
    (tests/test_ivf_index.py runs it under Trigger.AvailableNow).
    Centroids drift as the distribution does — rebuild with
    build_ivf_index on a schedule; queries keep working throughout
    because assignment always uses the centroids stored WITH the index.
    """
    cent_df = spark.read.parquet(f"{path}/centroids")
    id_col = [c for c in new_vectors.columns if c != vec_col][0]
    assigned = _nearest_lists(
        new_vectors.select(id_col, vec_col), cent_df, vec_col, id_col, 1
    ).drop("__rn", "__sim")
    assigned.write.mode("append").partitionBy("list_id").parquet(
        ivf_corpus_dir(path)
    )


#: data files per inverted list after compact_ivf_index
IVF_FILES_PER_LIST = 1


def compact_ivf_index(spark, path: str) -> None:
    """Compact the small files streaming appends accumulate (one file
    per micro-batch per list): rewrite the corpus partitioned by list,
    then swap directories. Run on the same schedule as statistics
    refresh. At warehouse scale this is the OPTIMIZE/compaction job
    every table format ships — expressed here with plain parquet
    primitives.

    Parallelism: rows are hash-distributed over
    ``n_lists * IVF_FILES_PER_LIST`` shuffle partitions on
    (list_id, salt) — every list compacts in parallel across the
    cluster and lands in at most ``IVF_FILES_PER_LIST`` files
    (hashing by list_id alone into ``target`` partitions would funnel
    the whole corpus through target tasks, and could never yield more
    than one file per list).

    The publish is VERSIONED, not a rename swap (r14): the compacted
    corpus lands at ``{path}/corpus_v{N+1}`` and one commit-marker PUT
    makes it current (fegis_spark/commitlog.py) — readers resolving
    ivf_corpus_dir never observe a gap, and the protocol holds on
    object stores without atomic rename. Superseded version dirs are
    deleted after the commit; concurrent long-running readers that
    resolved the OLD version before the commit should finish within
    the deletion grace (here: immediate — schedule compaction in the
    maintenance window, or keep K old versions, if readers can't
    pause). Appends racing a compaction land in the old version and
    are dropped with it — same maintenance-window contract as before.
    """
    import shutil

    from fegis_spark.commitlog import commit_epoch, committed_epoch

    cur = committed_epoch(path)
    src = ivf_corpus_dir(path)
    corpus = spark.read.parquet(src)
    n_lists = spark.read.parquet(f"{path}/centroids").count()
    staged = f"{path}/corpus_v{cur + 1}"
    id_col = next(c for c in corpus.columns if c != "list_id")
    salt = (F.abs(F.hash(F.col(id_col))) % IVF_FILES_PER_LIST).alias("__salt")
    (
        corpus.withColumn("__salt", salt)
        .repartition(max(1, n_lists * IVF_FILES_PER_LIST), "list_id", "__salt")
        .drop("__salt")
        .sortWithinPartitions("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(staged)
    )
    commit_epoch(path, cur + 1)  # the publish point: one marker PUT
    # post-commit hygiene: drop superseded versions (a crash here
    # leaves stale-but-unreferenced dirs; the next compaction's sweep
    # removes them)
    for d in os.listdir(path):
        if d.startswith("corpus_v") and d[8:].isdigit() and int(d[8:]) <= cur:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    if os.path.exists(f"{path}/corpus"):  # legacy unversioned layout
        shutil.rmtree(f"{path}/corpus", ignore_errors=True)


# ---------------------------------------------------------------------------
# Portable IVF twin — md5-derived literal centroids, fully oracle-checkable.

#: Routing geometry of the portable IVF twin. Its centroids are the
#: ±1 literals md5_signs("ivfp:", IVFP_LISTS, dim) against quantized
#: vectors, so every list-assignment comparison is an exact-integer
#: compare on any engine (bound: functions/vector.py kernel notes).
IVFP_LISTS = 16
IVFP_PROBE = 4


def ivfp_dots(
    vec_col: str, dim: int, n_lists: int = IVFP_LISTS, spark: bool = True
) -> str:
    """Engine expression: array of the n_lists exact-integer routing
    dot products of an array<float> column against the md5-derived
    ±1 centroids (namespaced 'ivfp:' so they are independent of the
    SRP hyperplanes). These are not trained centroids — they are
    literal routing directions embedded identically in the Spark
    expression and the DuckDB oracle, which is exactly what makes the
    IVF *machinery* (assign → probe → partition-restricted candidate
    join → top-k) value-checkable cross-engine. The trained path
    (ann_ivf / build_ivf_index) keeps the recall story; this twin
    certifies the routing semantics. One generated SQL string
    (driver-side plan-cost fast path, CLAUDE.md); the quantized array
    is a shared subtree."""
    q = int_quant_sql(vec_col, spark)
    cents = md5_signs("ivfp:", n_lists, dim)
    dots = ",".join(int_dot_sql(q, row, spark) for row in cents)
    return array_sql(dots, spark)


def first_arg_sql(arr: str, spark: bool, extreme: str = "max") -> str:
    """0-based position of the first max (or min) of an array
    expression: the ivfp list assignment and every PQ encode.
    array_position and list_position both return the first
    occurrence, so ties break to the lowest index on both engines."""
    pos = "array_position" if spark else "list_position"
    agg = ("array_" if spark else "list_") + extreme
    return f"CAST({pos}({arr}, {agg}({arr})) - 1 AS INT)"


def ivfp_probe_ranks(df: DataFrame, *keep: str) -> DataFrame:
    """Spark probe-rank step of the portable IVF: every list of each
    query's ``__dots`` routing array, ranked per query_id by (dot
    DESC, list_id) → (query_id, *keep, list_id, __dot, probe_rank).
    DuckDB twin: ivfp_probe_rank_sql."""
    pr = df.select(
        "query_id", *keep, F.posexplode("__dots").alias("list_id", "__dot")
    )
    # panel-ok: input is |query panel| x n_lists posexploded rows — bounded
    w = Window.partitionBy("query_id").orderBy(F.desc("__dot"), F.col("list_id"))
    return pr.withColumn("probe_rank", F.row_number().over(w))


def ivfp_probe_rank_sql(part: str, indent: int) -> str:
    """DuckDB twin of ivfp_probe_ranks: the probe rank of list
    ``r.range`` (a CROSS JOIN range(0, IVFP_LISTS) r beside the row's
    ``dots``) per ``part``, by (dot DESC, list_id). ``indent`` is the
    column the expression starts at, so its continuation lines line
    up in the caller's CTE."""
    pad = " " * indent
    return (
        f"row_number() OVER (\n"
        f"{pad}  PARTITION BY {part}\n"
        f"{pad}  ORDER BY dots[CAST(r.range AS INT) + 1] DESC,\n"
        f"{pad}           CAST(r.range AS INT))"
    )


def ann_ivf_portable(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    n_probe: int = IVFP_PROBE,
) -> DataFrame:
    """IVF-Flat with md5-derived literal routing centroids — the fully
    oracle-checkable twin of ann_ivf (reference K1 semantics,
    /root/reference/fegis/strategies.py:262-272). Same relational
    shape as the trained path: corpus rows go to their argmax-dot list
    (first-max tie-break = array_position semantics on both engines),
    queries probe their n_probe best lists, candidates come only from
    the probed lists (at scale: partition pruning over a list_id
    layout, see build_ivf_index), exact cosine re-ranks. Every routing
    comparison is an exact-integer compare, so candidate sets — not
    just top-k survivors — are bit-identical cross-engine."""
    dots = ivfp_dots(vec_col, dim)
    c = corpus_df.select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(dots).alias("__dots"),
    ).select(
        "corpus_id", "__cv", F.expr(first_arg_sql("__dots", True)).alias("list_id")
    )
    qd = queries_df.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(dots).alias("__dots"),
    )
    probes = (
        ivfp_probe_ranks(qd, "__qv")
        .filter(F.col("probe_rank") <= n_probe)
        .select(
            "query_id",
            "__qv",
            F.expr(norm_sql("__qv")).alias("__qn"),
            "list_id",
        )
    )
    cand = (
        # corpus norm once per row, not once per probe match
        c.withColumn("__cn", F.expr(norm_sql("__cv")))
        .join(F.broadcast(probes), "list_id")  # bcast-ok: n_probe probe list ids
        .withColumn("score", _parts("__qv", "__cv", "__qn", "__cn"))
    )
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled probed candidates to k per (query, map partition)
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("corpus_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Portable product quantization (PQ-ADC) twin — md5-derived ±1 codebooks,
# exact-integer encode + asymmetric-distance scoring, fully
# oracle-checkable (the same certification pattern ivfp gives IVF).

#: The one PQ geometry — literal books, trained books and _pq_sub's
#: slicing all use it: dim 64 split into PQ_M subspaces of PQ_DSUB
#: dims, PQ_K codewords each (3-bit codes — demonstration scale;
#: production PQ uses K=256).
PQ_M = 8
PQ_DSUB = 8
PQ_K = 8

#: Deterministic ±1 codeword matrix per subspace (md5_signs namespace
#: 'pq:{m}:', independent of the SRP/ivfp draws). Because every
#: codeword has the SAME norm (all entries ±1), nearest-codeword
#: assignment under L2 reduces EXACTLY to argmax dot product, and the
#: ADC distance ranking reduces to ranking by the summed
#: query·codeword dots — so the whole encode/score path runs on exact
#: integers (|dot| <= 8e6 per subspace, 6.4e7 summed, far inside
#: 2^53) and DuckDB replays it value-for-value. These are not trained
#: codebooks — this twin certifies the PQ *machinery* (subspace encode
#: → code array → LUT join → ADC top-k); trained codebooks slot into
#: the same machinery (pq_trained_codes_expr).
PQ_BOOKS = [md5_signs(f"pq:{mm}:", PQ_K, PQ_DSUB) for mm in range(PQ_M)]


def _pq_sub(vec_col: str, mm: int, spark: bool) -> str:
    """Quantized subvector mm in the target engine's spelling."""
    a = mm * PQ_DSUB + 1
    if spark:
        return int_quant_sql(f"slice({vec_col}, {a}, {PQ_DSUB})", spark)
    return int_quant_sql(f"list_slice({vec_col}, {a}, {a + PQ_DSUB - 1})", spark)


def _pq_dots(vec_col: str, mm: int, spark: bool) -> str:
    """Array of the PQ_K exact-integer codeword dots for subspace mm."""
    sub = _pq_sub(vec_col, mm, spark)
    dots = ",".join(int_dot_sql(sub, row, spark) for row in PQ_BOOKS[mm])
    return array_sql(dots, spark)


def pq_codes_expr(vec_col: str, spark: bool = True) -> str:
    """Engine expression: array of PQ_M code indices (0-based), one
    per subspace — argmax codeword dot with first-max tiebreak
    (first_arg_sql). ONE generated string (driver-side plan-cost fast
    path, CLAUDE.md)."""
    codes = ",".join(
        first_arg_sql(_pq_dots(vec_col, mm, spark), spark) for mm in range(PQ_M)
    )
    return array_sql(codes, spark)


def pq_luts_expr(vec_col: str, spark: bool = True) -> str:
    """Engine expression: nested array of the PQ_M per-subspace
    codeword-dot LUTs for a QUERY vector — ADC scores a corpus code
    array by summing luts[m][code[m]]."""
    luts = ",".join(_pq_dots(vec_col, mm, spark) for mm in range(PQ_M))
    return array_sql(luts, spark)


#: Spark ADC score over a (codes, luts) pair — exact-integer sum of
#: the coded LUT entries (rank-equivalent to the L2 ADC distance for
#: constant-norm codebooks; see PQ_BOOKS).
PQ_ADC_EXPR = (
    "aggregate(zip_with(codes, luts, (c, l) -> element_at(l, c + 1)), "
    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


def pq_adc_sql(codes_qual: str, luts_qual: str) -> str:
    """DuckDB ADC score: unrolled luts[m][codes[m] + 1] sum (nested
    list indexing; 1-based)."""
    return " + ".join(
        f"{luts_qual}[{mm + 1}][{codes_qual}[{mm + 1}] + 1]"
        for mm in range(PQ_M)
    )


# ---------------------------------------------------------------------------
# r12: PORTABLE trained-PQ — an rng-free, integer-exact per-subspace
# Lloyd trainer whose every step is replayable in ANSI SQL, so a
# catalog query can ship TRAINED codebooks and the DuckDB oracle
# RETRAINS them from the same table and matches value-for-value.

#: bounded training-sample size (the FAISS posture: PQ codebooks train
#: on a sample at any corpus scale; same md5-bucket recipe as IVF)
PQT_TARGET = 512
#: unrolled Lloyd iterations (each is ~4 CTEs in the oracle)
PQT_ITERS = 2


def _rha(x: float) -> int:
    """round-half-away-from-zero on a double — EXACTLY what Spark's
    round(double) (shortest-repr HALF_UP == binary half-away for
    integer targets < 2^51) and DuckDB's round(double) compute. x -
    floor(x) is exact for |x| < 2^53, so the tie test is exact."""
    import math

    f = math.floor(x)
    r = x - f
    if r > 0.5:
        return int(f) + 1
    if r < 0.5:
        return int(f)
    return int(f) + 1 if x > 0 else int(f)


def train_pq_books_portable(
    corpus_df: DataFrame, corpus_id: str, vec_col: str = "embedding"
):
    """Deterministic, rng-free, INTEGER-EXACT per-subspace Lloyd
    trainer (r11 verdict #3) over the PQ_M x PQ_K x PQ_DSUB geometry:
    every step is integer arithmetic replayable in SQL, which is what
    lets ann_pq_rerank_trained's oracle RETRAIN the books and certify
    the trained path end-to-end:

    * sample: ivf_training_sample's md5-bucket recipe (NULL vectors
      dropped), sorted by (hash, id), first PQT_TARGET rows;
    * quantize: round(x * INT_SCALE) as int64 (the int_quant_sql
      recipe — both engines round doubles half-away-from-zero);
    * init: PQ_K evenly-spaced rows in hash order (rank 1 + j*step,
      step = floor(n/PQ_K), j < PQ_K) — deterministic spread, no rng;
    * Lloyd x PQT_ITERS: assign by argmin of the L2 form
      sum_d(c^2 - 2*q*c) (X.X constant per row — same argmin), ties
      to the lowest codeword index; update = per-dim
      round-half-away(sum/count) via the pure-integer formula
      (2s + n) // (2n); empty clusters keep their codeword.

    Returns int codebooks [m][j][d] — they slot straight into
    pq_trained_codes_expr/pq_trained_luts_expr.
    """
    rows = ivf_training_sample(corpus_df, corpus_id, vec_col, PQT_TARGET).collect()
    rows.sort(key=lambda r: (r["__h"], r["__id"]))
    rows = rows[:PQT_TARGET]
    ns = len(rows)
    step = max(ns // PQ_K, 1)
    sel = list(range(0, ns, step))[:PQ_K]
    books = []
    for mm in range(PQ_M):
        S = [
            [
                _rha(float(v) * INT_SCALE)
                for v in r["v"][mm * PQ_DSUB : (mm + 1) * PQ_DSUB]
            ]
            for r in rows
        ]
        cent = [list(S[i]) for i in sel if i < ns]
        for _ in range(PQT_ITERS):
            assign = []
            for qv in S:
                best_j, best_lv = 0, None
                for j, c in enumerate(cent):
                    lv = sum(cc * cc - 2 * qq * cc for qq, cc in zip(qv, c))
                    if best_lv is None or lv < best_lv:
                        best_j, best_lv = j, lv
                assign.append(best_j)
            new = []
            for j in range(len(cent)):
                pts = [S[i] for i in range(ns) if assign[i] == j]
                if pts:
                    cnt = len(pts)
                    entry = []
                    for d in range(PQ_DSUB):
                        s = sum(p[d] for p in pts)
                        entry.append(
                            (2 * s + cnt) // (2 * cnt)
                            if s >= 0
                            else -((-2 * s + cnt) // (2 * cnt))
                        )
                    new.append(entry)
                else:
                    new.append(cent[j])
            cent = new
        books.append(cent)
    return books


def pq_trained_books_sql(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB CTE chain that RETRAINS train_pq_books_portable's
    codebooks from the live table — ends with ``pqt_books(m, j, d, c)``.
    Every arithmetic step mirrors the Python trainer exactly: the md5
    cutoff (double multiply + floor == int()) over the full row count,
    NULL vectors dropped after the cutoff, the (hash, id) sort and
    LIMIT, round(x*1e6) quantization, evenly-spaced seed ranks, the
    L2-form argmin with (lv, j) tie order, and the centroid update
    floor((2s+n)/(2n)) — exact because the quotient's rational grid
    (spacing 1/(2n), n <= 512) is ~1e7 x wider than a double ulp at
    the codeword magnitude, so the correctly-rounded double quotient
    never crosses an integer boundary."""
    parts = [f"""
    pqt_n AS (SELECT COUNT(*) AS n FROM {table}),
    pqt_cut AS (
      SELECT CAST(floor(LEAST(1.0, (1.2 * {PQT_TARGET}.0) / GREATEST(n, 1))
                        * 4294967295.0) AS BIGINT) AS cut
      FROM pqt_n
    ),
    pqt_samp AS MATERIALIZED (
      SELECT id, v FROM (
        SELECT CAST({id_col} AS VARCHAR) AS id,
               CAST({vec_col} AS DOUBLE[]) AS v,
               {md5_int_sql(f"'ivf-sample:' || CAST({id_col} AS VARCHAR)", 8, spark=False)} AS h
        FROM {table}
      ), pqt_cut WHERE h <= cut AND v IS NOT NULL ORDER BY h, id LIMIT {PQT_TARGET}
    ),
    pqt_ns AS (SELECT COUNT(*) AS ns FROM pqt_samp),
    pqt_step AS (SELECT GREATEST(ns // {PQ_K}, 1) AS st FROM pqt_ns),
    pqt_rn AS MATERIALIZED (
      SELECT id, v, row_number() OVER (ORDER BY h2, id) AS rn FROM (
        SELECT id, v,
               {md5_int_sql("'ivf-sample:' || id", 8, spark=False)} AS h2
        FROM pqt_samp
      )
    ),
    pqt_q AS MATERIALIZED (
      SELECT rn, CAST(g1.range AS INT) AS m, CAST(g2.range AS INT) AS d,
             CAST(round(v[CAST(g1.range AS INT) * {PQ_DSUB} + CAST(g2.range AS INT) + 1] * 1000000.0) AS BIGINT) AS q
      FROM pqt_rn CROSS JOIN range(0, {PQ_M}) g1 CROSS JOIN range(0, {PQ_DSUB}) g2
    ),
    pqt_b0 AS MATERIALIZED (
      SELECT s.m, CAST((s.rn - 1) // t.st AS INT) AS j, s.d, s.q AS c
      FROM pqt_q s, pqt_step t
      WHERE (s.rn - 1) % t.st = 0 AND (s.rn - 1) // t.st < {PQ_K}
    )"""]
    prev = "pqt_b0"
    for it in range(1, PQT_ITERS + 1):
        parts.append(f""",
    pqt_d{it} AS MATERIALIZED (
      SELECT s.rn, s.m, b.j, SUM(b.c * b.c - 2 * s.q * b.c) AS lv
      FROM pqt_q s JOIN {prev} b ON s.m = b.m AND s.d = b.d
      GROUP BY s.rn, s.m, b.j
    ),
    pqt_a{it} AS MATERIALIZED (
      SELECT rn, m, j FROM (
        SELECT rn, m, j,
               row_number() OVER (PARTITION BY rn, m ORDER BY lv, j) AS r
        FROM pqt_d{it}
      ) WHERE r = 1
    ),
    pqt_u{it} AS MATERIALIZED (
      SELECT a.m, a.j, s.d, CAST(SUM(s.q) AS BIGINT) AS sq, COUNT(*) AS cnt
      FROM pqt_a{it} a JOIN pqt_q s ON a.rn = s.rn AND a.m = s.m
      GROUP BY a.m, a.j, s.d
    ),
    pqt_b{it} AS MATERIALIZED (
      SELECT m, j, d,
             CASE WHEN sq >= 0
                  THEN CAST(floor((2 * sq + cnt) / (2.0 * cnt)) AS BIGINT)
                  ELSE -CAST(floor((2 * (-sq) + cnt) / (2.0 * cnt)) AS BIGINT)
             END AS c
      FROM pqt_u{it}
      UNION ALL
      SELECT b.m, b.j, b.d, b.c FROM {prev} b
      WHERE NOT EXISTS (
        SELECT 1 FROM pqt_u{it} u WHERE u.m = b.m AND u.j = b.j
      )
    )""")
        prev = f"pqt_b{it}"
    parts.append(f""",
    pqt_books AS MATERIALIZED (SELECT m, j, d, c FROM {prev})""")
    return "".join(parts)


def _pq_trained_dists(books, vec_col: str, mm: int, spark: bool) -> str:
    """Array of the K exact-integer L2-form distances
    (C·C − 2·X·C — the rank-equivalent of ||X−C||², since X·X is
    constant across codewords) for subspace mm against TRAINED
    int-quantized codewords."""
    sub = _pq_sub(vec_col, mm, spark)
    terms = []
    for row in books[mm]:
        cc = sum(c * c for c in row)
        terms.append(f"(CAST({cc} AS BIGINT) - 2 * ({int_dot_sql(sub, row, spark)}))")
    return array_sql(",".join(terms), spark)


def pq_trained_codes_expr(books, vec_col: str, spark: bool = True) -> str:
    """Trained-PQ encode: per-subspace argmin L2-form distance
    (first-min tiebreak). Exact integers throughout — trained
    codebooks slot into the same certified machinery as literals."""
    codes = ",".join(
        first_arg_sql(_pq_trained_dists(books, vec_col, mm, spark), spark, "min")
        for mm in range(len(books))
    )
    return array_sql(codes, spark)


def pq_trained_luts_expr(books, vec_col: str, spark: bool = True) -> str:
    """Trained-PQ query LUTs: the per-subspace L2-form distance
    arrays; ADC ranks by the summed coded entries ASCENDING."""
    luts = ",".join(
        _pq_trained_dists(books, vec_col, mm, spark) for mm in range(len(books))
    )
    return array_sql(luts, spark)
