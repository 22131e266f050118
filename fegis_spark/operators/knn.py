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
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fegis_spark.functions.vector import (
    cosine_from_parts_sql,
    dot_sql,
    norm_sql,
)

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


def knn_join_lsh(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    bucket_length: float | None = None,
    num_hash_tables: int = 3,
    max_distance: float = 10.0,
) -> DataFrame:
    """Approximate KNN via random-projection LSH (Euclidean proxy for
    cosine on normalized vectors). Candidate generation is a bucket
    equi-join — no cross product. Rows-only correctness (approximate
    by construction).

    bucket_length=None (default, r12) derives sigma/2 = 0.5/sqrt(dim)
    from the first row's dimensionality (1-row bounded driver
    round-trip): a unit vector projects onto a random unit hyperplane
    with std 1/sqrt(dim), so any fixed bucket length >> sigma puts
    every row in the one or two buckets around zero and the per-table
    equi-join degenerates to ~n^2/2 brute force (the r11 occupancy
    find — 51% single-bucket at the old fixed 2.0-4.0 defaults;
    sigma/2 measures max occupancy ~0.2, evidence/
    brp_occupancy_r12.json). Pass an explicit value to override."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    if bucket_length is None:
        first = corpus_df.select(vec_col).head()
        dim = len(first[0]) if first is not None else 64
        bucket_length = 0.5 / dim ** 0.5

    q = queries_df.select(
        F.col(query_id).alias("query_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    c = corpus_df.select(
        F.col(corpus_id).alias("corpus_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(c)
    pairs = model.approxSimilarityJoin(c, q, max_distance, distCol="dist")
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


def lsh_bucket_stats(
    corpus_df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float | None = None,
    num_hash_tables: int = 3,
) -> DataFrame:
    """1-row occupancy audit of the BRP-LSH bucket layout (hash table
    0, the same fitted model knn_join_lsh uses: bucketLength derived
    sigma/2 unless overridden, seed 42): (n_rows, n_buckets,
    max_bucket). The observable behind the r11/r12 degeneracy finds —
    a fixed bucket_length >> sigma collapses the table to ~2 buckets
    and the bucket equi-join to ~n^2/2 brute force; the derived
    sigma/2 default measures 12-14 buckets / <=0.21 max share at every
    sf (evidence/brp_occupancy_r12.json, ann_lsh_recall_audit)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    if bucket_length is None:
        first = corpus_df.select(vec_col).head()
        dim = len(first[0]) if first is not None else 64
        bucket_length = 0.5 / dim ** 0.5
    c = corpus_df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(c)
    t = model.transform(c).select(
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
    """
    n = corpus_df.select(corpus_id).count()
    frac = min(1.0, (1.2 * target) / max(n, 1))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ivf-sample:"), F.col(corpus_id).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return corpus_df.select(
        F.col(corpus_id).cast("string").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        h.alias("__h"),
    ).filter(F.col("__h") <= int(frac * 0xFFFFFFFF))


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
    cent_rows = _train_centroids(
        corpus_df, corpus_id, vec_col, n_lists, kmeans_iters, distributed
    )
    spark = corpus_df.sparkSession
    cent_df = spark.createDataFrame(
        cent_rows, "list_id int, centroid array<double>"
    ).withColumn("__ctn", F.expr(norm_sql("centroid")))

    def nearest_lists(df: DataFrame, id_alias: str, n_keep: int) -> DataFrame:
        # row norm once, reused for every centroid AND the probe scan
        scored = (
            df.withColumn("__rn", F.expr(norm_sql(vec_col)))
            .crossJoin(F.broadcast(cent_df))  # bcast-ok: n_lists centroids
            .withColumn("__sim", _parts(vec_col, "centroid", "__rn", "__ctn"))
        )
        # grpwin-ok: per-row id partition key — count scales with input
        w = Window.partitionBy(id_alias).orderBy(F.desc("__sim"), F.col("list_id"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n_keep)
            .drop("centroid", "__ctn", "__sim", "__r")
        )

    corpus_assigned = nearest_lists(
        corpus_df.select(corpus_id, vec_col), corpus_id, 1
    )
    query_probes = nearest_lists(
        queries_df.select(query_id, vec_col), query_id, n_probe
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
    """Deterministic centroid training (shared by ann_ivf and
    build_ivf_index). Two routes behind one signature:

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


def _nearest_lists(
    df: DataFrame,
    cent_df: DataFrame,
    vec_col: str,
    id_alias: str,
    n_keep: int,
    keep_norm: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment with per-side precomputed norms
    (row norm once per row, centroid norms once on the panel —
    bit-identical to the cosine() fold, 1.8x less CPU per pair;
    evidence/cosine_codegen_ab_r14.json). ``keep_norm`` retains the
    row norm as ``__rn`` so a downstream probe scan can reuse it;
    default False keeps output schemas (incl. the STORED index
    corpus) unchanged."""
    cents = cent_df.withColumn("__ctn", F.expr(norm_sql("centroid")))
    scored = (
        df.withColumn("__rn", F.expr(norm_sql(vec_col)))
        .crossJoin(F.broadcast(cents))  # bcast-ok: n_lists centroids
        .withColumn("__sim", _parts(vec_col, "centroid", "__rn", "__ctn"))
    )
    # grpwin-ok: per-row id partition key — count scales with input
    w = Window.partitionBy(id_alias).orderBy(F.desc("__sim"), F.col("list_id"))
    out = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_keep)
        .drop("centroid", "__ctn", "__sim", "__r")
    )
    return out if keep_norm else out.drop("__rn")


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
    spark = corpus_df.sparkSession
    cent_df = spark.createDataFrame(
        _train_centroids(
            corpus_df, corpus_id, vec_col, n_lists, kmeans_iters, distributed
        ),
        "list_id int, centroid array<double>",
    )
    assigned = _nearest_lists(
        corpus_df.select(corpus_id, vec_col), cent_df, vec_col, corpus_id, 1
    )
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
        queries_df.select(query_id, vec_col), cent_df, vec_col, query_id,
        n_probe, keep_norm=True,
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
    )
    assigned.write.mode("append").partitionBy("list_id").parquet(
        ivf_corpus_dir(path)
    )


def compact_ivf_index(spark, path: str, target_files_per_list: int = 1) -> None:
    """Compact the small files streaming appends accumulate (one file
    per micro-batch per list): rewrite the corpus partitioned by list,
    then swap directories. Run on the same schedule as statistics
    refresh. At warehouse scale this is the OPTIMIZE/compaction job
    every table format ships — expressed here with plain parquet
    primitives.

    Parallelism: rows are hash-distributed over
    ``n_lists * target_files_per_list`` shuffle partitions on
    (list_id, salt) — every list compacts in parallel across the
    cluster and lands in at most ``target_files_per_list`` files
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
    salt = (F.abs(F.hash(F.col(id_col))) % target_files_per_list).alias("__salt")
    (
        corpus.withColumn("__salt", salt)
        .repartition(max(1, n_lists * target_files_per_list), "list_id", "__salt")
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

#: Quantization scale for the portable IVF routing dot products. Same
#: rationale as SRP_SCALE (operators/dedup.py): |q| <= ~1e6 per entry,
#: 64 dims -> |dot| <= ~6.4e7 against ±1 centroids, far inside 2^53,
#: so every list-assignment comparison is an exact-integer compare on
#: any engine.
IVFP_SCALE = 1_000_000
IVFP_LISTS = 16
IVFP_PROBE = 4


def ivfp_centroids(n_lists: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 centroid matrix from md5 parity (namespaced
    'ivfp' so it is independent of the SRP hyperplanes). These are not
    trained centroids — they are literal routing directions embedded
    identically in the Spark expression and the DuckDB oracle, which
    is exactly what makes the IVF *machinery* (assign → probe →
    partition-restricted candidate join → top-k) value-checkable
    cross-engine. The trained path (ann_ivf / build_ivf_index) keeps
    the recall story; this twin certifies the routing semantics the
    same way dedup_minhash_portable certifies the xxhash LSH path."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"ivfp:{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for j in range(n_lists)
    ]


def ivfp_quant_expr(vec_col: str) -> str:
    """Spark-SQL expression: exact-integer quantization of an
    array<float> column (the shared subtree of every portable-IVF
    routing expression; see IVFP_SCALE for the no-overflow bound)."""
    return (
        f"transform({vec_col}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {IVFP_SCALE}.0) AS BIGINT))"
    )


def ivfp_quant_sql(vec_col: str) -> str:
    """DuckDB twin of ivfp_quant_expr — identical arithmetic (both
    engines round doubles half-away-from-zero; CLAUDE.md recipe)."""
    return (
        f"list_transform({vec_col}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {IVFP_SCALE}.0) AS BIGINT))"
    )


def ivfp_dots_expr(vec_col: str, dim: int, n_lists: int = IVFP_LISTS) -> str:
    """Spark-SQL expression: array of the n_lists exact-integer routing
    dot products of an array<float> column against the literal
    centroids. One generated SQL string (driver-side plan-cost fast
    path, CLAUDE.md); the quantized array is a shared subtree."""
    cents = ivfp_centroids(n_lists, dim)
    q = ivfp_quant_expr(vec_col)
    dots = []
    for row in cents:
        lit = "array(" + ",".join(str(r) for r in row) + ")"
        dots.append(
            f"aggregate(zip_with({q}, {lit}, (a, b) -> a * b), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    return "array(" + ",".join(dots) + ")"


def ivfp_dots_sql(vec_col: str, dim: int, n_lists: int = IVFP_LISTS) -> str:
    """DuckDB twin of ivfp_dots_expr — identical arithmetic: integer
    quantization, exact integer-valued dot products, same literal
    centroid matrix."""
    cents = ivfp_centroids(n_lists, dim)
    q = ivfp_quant_sql(vec_col)
    dots = [
        f"list_dot_product({q}, [" + ",".join(str(r) for r in row) + "])"
        for row in cents
    ]
    return "[" + ",".join(dots) + "]"


def ann_ivf_portable(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    n_lists: int = IVFP_LISTS,
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
    dots = ivfp_dots_expr(vec_col, dim, n_lists)
    c = corpus_df.select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(dots).alias("__dots"),
    ).select(
        "corpus_id",
        "__cv",
        F.expr(
            "CAST(array_position(__dots, array_max(__dots)) - 1 AS INT)"
        ).alias("list_id"),
    )
    qd = queries_df.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(dots).alias("__dots"),
    )
    pr = qd.select(
        "query_id", "__qv", F.posexplode("__dots").alias("list_id", "__dot")
    )
    # panel-ok: input is |query panel| x n_lists posexploded rows — bounded
    w = Window.partitionBy("query_id").orderBy(F.desc("__dot"), F.col("list_id"))
    probes = (
        pr.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select(
            "query_id",
            "__qv",
            F.expr(norm_sql("__qv")).alias("__qn"),
            F.col("list_id").cast("int").alias("list_id"),
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

#: dim 64 split into PQ_M subspaces of PQ_DSUB dims, PQ_K codewords
#: each (3-bit codes — demonstration scale; production PQ uses K=256).
PQ_M = 8
PQ_DSUB = 8
PQ_K = 8


def pq_codebooks(m: int = PQ_M, k: int = PQ_K, dsub: int = PQ_DSUB):
    """Deterministic ±1 codeword matrix per subspace from md5 parity
    (namespaced 'pq', independent of the SRP/ivfp draws). Because
    every codeword has the SAME norm (all entries ±1), nearest-
    codeword assignment under L2 reduces EXACTLY to argmax dot
    product, and the ADC distance ranking reduces to ranking by the
    summed query·codeword dots — so the whole encode/score path runs
    on exact integers (quantized vectors at IVFP_SCALE against ±1
    literals: |dot| <= 8e6 per subspace, 6.4e7 summed, far inside
    2^53) and DuckDB replays it value-for-value. These are not
    trained codebooks — this twin certifies the PQ *machinery*
    (subspace encode → code array → LUT join → ADC top-k); trained
    codebooks would slot into the same expressions as literals."""
    import hashlib

    return [
        [
            [
                1
                if int(hashlib.md5(f"pq:{mm}:{j}:{d}".encode()).hexdigest()[0], 16)
                % 2 == 0
                else -1
                for d in range(dsub)
            ]
            for j in range(k)
        ]
        for mm in range(m)
    ]


def _pq_sub(vec_col: str, mm: int, spark: bool) -> str:
    """Quantized subvector mm (exact-integer, shared recipe with
    ivfp_quant_expr) in the target engine's spelling."""
    a = mm * PQ_DSUB + 1
    if spark:
        return (
            f"transform(slice({vec_col}, {a}, {PQ_DSUB}), "
            f"x -> CAST(round(CAST(x AS DOUBLE) * {IVFP_SCALE}.0) AS BIGINT))"
        )
    return (
        f"list_transform(list_slice({vec_col}, {a}, {a + PQ_DSUB - 1}), "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {IVFP_SCALE}.0) AS BIGINT))"
    )


def _pq_dots(vec_col: str, mm: int, spark: bool) -> str:
    """Array of the PQ_K exact-integer codeword dots for subspace mm."""
    books = pq_codebooks()
    sub = _pq_sub(vec_col, mm, spark)
    if spark:
        dots = [
            f"aggregate(zip_with({sub}, array({','.join(map(str, row))}), "
            f"(a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            for row in books[mm]
        ]
        return "array(" + ",".join(dots) + ")"
    dots = [
        f"list_dot_product({sub}, [{','.join(map(str, row))}])"
        for row in books[mm]
    ]
    return "[" + ",".join(dots) + "]"


def pq_codes_expr(vec_col: str, spark: bool = True) -> str:
    """Engine expression: array of PQ_M code indices (0-based), one
    per subspace — argmax codeword dot with first-max tiebreak
    (array_position / list_position semantics agree). ONE generated
    string (driver-side plan-cost fast path, CLAUDE.md)."""
    pos, mx = ("array_position", "array_max") if spark else (
        "list_position", "list_max")
    codes = []
    for mm in range(PQ_M):
        d = _pq_dots(vec_col, mm, spark)
        codes.append(f"CAST({pos}({d}, {mx}({d})) - 1 AS INT)")
    body = ",".join(codes)
    return f"array({body})" if spark else f"[{body}]"


def pq_luts_expr(vec_col: str, spark: bool = True) -> str:
    """Engine expression: nested array of the PQ_M per-subspace
    codeword-dot LUTs for a QUERY vector — ADC scores a corpus code
    array by summing luts[m][code[m]]."""
    luts = ",".join(_pq_dots(vec_col, mm, spark) for mm in range(PQ_M))
    return f"array({luts})" if spark else f"[{luts}]"


#: Spark ADC score over a (codes, luts) pair — exact-integer sum of
#: the coded LUT entries (rank-equivalent to the L2 ADC distance for
#: constant-norm codebooks; see pq_codebooks).
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


def build_ivfpq_index(
    corpus_df: DataFrame,
    path: str,
    corpus_id: str,
    vec_col: str = "embedding",
) -> None:
    """Index-once half of the production IVF-PQ flow (r11): assign
    every corpus vector to its ivfp routing list AND encode it to PQ
    codes, then write ``{path}/corpus_v0`` (committed via the marker
    log, see ivf_corpus_dir) as a parquet of
    (corpus_id, codes) PARTITIONED BY list_id. The stored rows carry
    the 8-int codes INSTEAD of the float vector — the two scale
    levers composed at rest: probing prunes to n_probe/n_lists of the
    DIRECTORIES, and what those directories hold is ~32x smaller than
    float embeddings (measured: evidence/pq_adc_ab_r11.json).
    Routing centroids and codebooks are the md5-derived portable
    literals; a trained deployment swaps them into the same
    expressions (the literal-hoist pattern of bm25_scores)."""
    dots = ivfp_dots_expr(vec_col, 64)
    assigned = corpus_df.select(
        F.col(corpus_id).alias("corpus_id"),
        F.expr(dots).alias("__dots"),
        F.expr(pq_codes_expr(vec_col)).alias("codes"),
    ).select(
        "corpus_id", "codes",
        F.expr(
            "CAST(array_position(__dots, array_max(__dots)) - 1 AS INT)"
        ).alias("list_id"),
    )
    from fegis_spark.commitlog import commit_epoch

    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/corpus_v0"
    )
    commit_epoch(path, 0)


def ann_ivfpq_indexed(
    spark,
    path: str,
    queries_df: DataFrame,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = IVFP_PROBE,
) -> DataFrame:
    """Query-many half (r11): probe the stored IVF-PQ index. The
    probe set joins the codes table on its PARTITION column, so
    dynamic partition pruning restricts the scan to n_probe
    directories per query batch, and scoring is the exact-integer ADC
    LUT sum over the stored codes — no float vectors are read at all.
    Identical candidate sets and ranking to ann_ivfpq_portable with
    equal parameters (same literal centroids/codebooks)."""
    corpus = spark.read.parquet(ivf_corpus_dir(path))
    dots = ivfp_dots_expr(vec_col, 64)
    qd = queries_df.select(
        F.col(query_id).alias("query_id"),
        F.expr(pq_luts_expr(vec_col)).alias("luts"),
        F.expr(dots).alias("__dots"),
    )
    pr = qd.select(
        "query_id", "luts", F.posexplode("__dots").alias("list_id", "__dot")
    )
    # panel-ok: input is |query panel| x n_lists posexploded rows — bounded
    w = Window.partitionBy("query_id").orderBy(F.desc("__dot"), F.col("list_id"))
    probes = (
        pr.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "luts", F.col("list_id").cast("int").alias("list_id"))
    )
    cand = corpus.join(F.broadcast(probes), "list_id")  # bcast-ok: n_probe probe rows per query
    scored = cand.withColumn("adc", F.expr(PQ_ADC_EXPR))
    # panel-ok: WindowGroupLimit(Partial) below the exchange bounds the
    # shuffled probed codes to k per (query, map partition)
    wk = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "corpus_id", "adc",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def train_pq_codebooks(
    corpus_df: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dsub: int = PQ_DSUB,
    iters: int = 10,
):
    """Deterministic per-subspace Euclidean k-means for PQ (r11):
    the same bounded md5-bucket sample _train_centroids uses
    (≤ 512 rows collected), k-means++ init + Lloyd steps per
    subspace, seed 42, dead clusters reseeded to the worst-served
    point. Returns INT-QUANTIZED codebooks (entries round(c·1e6)) so
    the trained expressions run on exact integers like the portable
    twin — same sample, same seed ⇒ same codebooks run-over-run.
    Sample-based by design: PQ codebooks are k·m tiny centroids; at
    100 TB you still train them on a bounded sample (FAISS does the
    same), so there is no distributed-training route to miss."""
    import numpy as np

    target = max(k * 32, 512)
    sample = ivf_training_sample(corpus_df, corpus_id, vec_col, target).collect()
    sample.sort(key=lambda r: (r["__h"], r["__id"]))
    X = np.array([r["v"] for r in sample[:target]], dtype=np.float64)
    rng = np.random.default_rng(42)
    books = []
    for mm in range(m):
        S = X[:, mm * dsub : (mm + 1) * dsub]
        kk = min(k, len(S))
        cent = np.empty((kk, dsub), dtype=np.float64)
        cent[0] = S[int(rng.integers(len(S)))]
        d2 = ((S - cent[0]) ** 2).sum(1)
        for j in range(1, kk):
            tot = d2.sum()
            idx = (
                int(rng.choice(len(S), p=d2 / tot))
                if tot > 0
                else int(rng.integers(len(S)))
            )
            cent[j] = S[idx]
            d2 = np.minimum(d2, ((S - cent[j]) ** 2).sum(1))
        for _ in range(iters):
            dists = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(2)
            assign = dists.argmin(1)
            worst = dists.min(1)
            for j in range(kk):
                pts = S[assign == j]
                if len(pts):
                    cent[j] = pts.mean(0)
                else:
                    cent[j] = S[int(worst.argmax())]
        books.append(
            [[int(round(c * IVFP_SCALE)) for c in row] for row in cent]
        )
    return books


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
    corpus_df: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dsub: int = PQ_DSUB,
    iters: int = PQT_ITERS,
):
    """Deterministic, rng-free, INTEGER-EXACT per-subspace Lloyd
    trainer (r11 verdict #3): unlike train_pq_codebooks (numpy floats,
    rng seeds — library tier), every step here is integer arithmetic
    replayable in SQL, which is what lets ann_pq_rerank_trained's
    oracle RETRAIN the books and certify the trained path end-to-end:

    * sample: ivf_training_sample's md5-bucket recipe, sorted by
      (hash, id), first PQT_TARGET rows;
    * quantize: round(x * 1e6) as int64 (the SRP recipe — both
      engines round doubles half-away-from-zero);
    * init: k evenly-spaced rows in hash order (rank 1 + j*step,
      step = floor(n/k), j < k) — deterministic spread, no rng;
    * Lloyd x iters: assign by argmin of the L2 form
      sum_d(c^2 - 2*q*c) (X.X constant per row — same argmin), ties
      to the lowest codeword index; update = per-dim
      round-half-away(sum/count) via the pure-integer formula
      (2s + n) // (2n); empty clusters keep their codeword.

    Returns int codebooks shaped like train_pq_codebooks's output —
    they slot straight into pq_trained_codes_expr/pq_trained_luts_expr.
    """
    rows = ivf_training_sample(corpus_df, corpus_id, vec_col, PQT_TARGET).collect()
    rows.sort(key=lambda r: (r["__h"], r["__id"]))
    rows = rows[:PQT_TARGET]
    ns = len(rows)
    step = max(ns // k, 1)
    sel = list(range(0, ns, step))[:k]
    books = []
    for mm in range(m):
        S = [
            [_rha(float(v) * 1000000.0) for v in r["v"][mm * dsub : (mm + 1) * dsub]]
            for r in rows
        ]
        cent = [list(S[i]) for i in sel if i < ns]
        for _ in range(iters):
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
                    for d in range(dsub):
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
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dsub: int = PQ_DSUB,
    iters: int = PQT_ITERS,
) -> str:
    """DuckDB CTE chain that RETRAINS train_pq_books_portable's
    codebooks from the live table — ends with ``pqt_books(m, j, d, c)``.
    Every arithmetic step mirrors the Python trainer exactly: the md5
    cutoff (double multiply + floor == int()), the (hash, id) sort and
    LIMIT, round(x*1e6) quantization, evenly-spaced seed ranks, the
    L2-form argmin with (lv, j) tie order, and the centroid update
    floor((2s+n)/(2n)) — exact because the quotient's rational grid
    (spacing 1/(2n), n <= 512) is ~1e7 x wider than a double ulp at
    the codeword magnitude, so the correctly-rounded double quotient
    never crosses an integer boundary."""
    dim = m * dsub
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
               CAST(('0x' || substr(md5('ivf-sample:' || CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM {table}
      ), pqt_cut WHERE h <= cut ORDER BY h, id LIMIT {PQT_TARGET}
    ),
    pqt_ns AS (SELECT COUNT(*) AS ns FROM pqt_samp),
    pqt_step AS (SELECT GREATEST(ns // {k}, 1) AS st FROM pqt_ns),
    pqt_rn AS MATERIALIZED (
      SELECT id, v, row_number() OVER (ORDER BY h2, id) AS rn FROM (
        SELECT id, v,
               CAST(('0x' || substr(md5('ivf-sample:' || id), 1, 8)) AS BIGINT) AS h2
        FROM pqt_samp
      )
    ),
    pqt_q AS MATERIALIZED (
      SELECT rn, CAST(g1.range AS INT) AS m, CAST(g2.range AS INT) AS d,
             CAST(round(v[CAST(g1.range AS INT) * {dsub} + CAST(g2.range AS INT) + 1] * 1000000.0) AS BIGINT) AS q
      FROM pqt_rn CROSS JOIN range(0, {m}) g1 CROSS JOIN range(0, {dsub}) g2
    ),
    pqt_b0 AS MATERIALIZED (
      SELECT s.m, CAST((s.rn - 1) // t.st AS INT) AS j, s.d, s.q AS c
      FROM pqt_q s, pqt_step t
      WHERE (s.rn - 1) % t.st = 0 AND (s.rn - 1) // t.st < {k}
    )"""]
    prev = "pqt_b0"
    for it in range(1, iters + 1):
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
        lit = ",".join(map(str, row))
        if spark:
            dot = (
                f"aggregate(zip_with({sub}, array({lit}), "
                f"(a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
        else:
            dot = f"list_dot_product({sub}, [{lit}])"
        terms.append(f"(CAST({cc} AS BIGINT) - 2 * ({dot}))")
    return ("array(" if spark else "[") + ",".join(terms) + (")" if spark else "]")


def pq_trained_codes_expr(books, vec_col: str, spark: bool = True) -> str:
    """Trained-PQ encode: per-subspace argmin L2-form distance
    (first-min tiebreak). Exact integers throughout — trained
    codebooks slot into the same certified machinery as literals."""
    pos, mn = ("array_position", "array_min") if spark else (
        "list_position", "list_min")
    codes = []
    for mm in range(len(books)):
        d = _pq_trained_dists(books, vec_col, mm, spark)
        codes.append(f"CAST({pos}({d}, {mn}({d})) - 1 AS INT)")
    body = ",".join(codes)
    return f"array({body})" if spark else f"[{body}]"


def pq_trained_luts_expr(books, vec_col: str, spark: bool = True) -> str:
    """Trained-PQ query LUTs: the per-subspace L2-form distance
    arrays; ADC ranks by the summed coded entries ASCENDING."""
    luts = ",".join(
        _pq_trained_dists(books, vec_col, mm, spark) for mm in range(len(books))
    )
    return f"array({luts})" if spark else f"[{luts}]"
