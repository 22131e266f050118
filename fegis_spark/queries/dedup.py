"""Dedup catalog queries ([EXT] K9 — SURVEY.md §2.3). Thresholds are
tuned to the driver corpus (probed: max block Jaccard ≈ 0.97, max
pairwise cosine ≈ 0.51) so results are non-trivial at sf0.01."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register
from fegis_spark.model import load_table, maybe_broadcast, table_bytes
from fegis_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_HASHES,
    SHINGLE_N,
    SIMHASH_BANDS,
    SIMHASH_BITS_PORTABLE,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fegis_spark.queries.sqlfrag import (
    HOT_BOILER,
    HOT_CAP,
    HOT_MOD,
    duck_hot_docs,
    md5_int_sql,
    norm_text_sql,
    spark_hot_docs,
    tokens_sql,
)

_TOKS = tokens_sql("text", spark=False)


def _mh_pipeline_cte(src: str, base_mat: str = "") -> str:
    """Shared DuckDB CTE chain of the md5-60 MinHash pipeline
    (shingles → 60-bit md5 gram hashes → per-seed min signature → band
    hashes) over `src`, generated from the operator's geometry
    constants (operators/dedup MINHASH_* / SHINGLE_N). Every
    portable-minhash oracle interpolates THIS one string (same
    anti-drift move as _simhash_portable_oracle): a recipe change lands
    in every oracle at once instead of needing hand-mirroring across
    SQL blocks."""
    n, k, r = SHINGLE_N, MINHASH_HASHES, MINHASH_HASHES // MINHASH_BANDS
    seed_h = md5_int_sql("CAST(gh AS VARCHAR) || '-' || CAST(i AS VARCHAR)", 15, spark=False)
    return rf"""base AS {base_mat}(
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(0, len(tok)-{n - 1}),
                           i -> array_to_string(list_slice(tok, i+1, i+{n}), ' '))) AS sh
      FROM (SELECT *, {_TOKS} AS tok FROM {src})
      WHERE len(tok) >= {n}
    ), ex AS (
      SELECT doc, {md5_int_sql('g', 15, spark=False)} AS gh
      FROM (SELECT doc, unnest(sh) AS g FROM base)
    ), mh AS (
      SELECT doc, i,
             MIN({seed_h}) AS m
      FROM ex, (SELECT unnest(range({k})) AS i)
      GROUP BY doc, i
    ), sig AS (
      SELECT doc, list(m ORDER BY i) AS s FROM mh GROUP BY doc
    ), banded AS (
      SELECT doc, b,
             md5(array_to_string(list_transform(list_slice(s, b*{r}+1, b*{r}+{r}),
                                                x -> CAST(x AS VARCHAR)), ',')) AS bh
      FROM sig, (SELECT unnest(range({MINHASH_BANDS})) AS b)
    )"""


#: exact-Jaccard verification CTE over `cand` — shared by the
#: portable-minhash oracles below AND the curation flagship
#: (queries/pipeline_q.py), which consumes `ver` mid-pipeline instead
#: of as the final select.
_MH_VERIFY_CTE = """ver AS (
      SELECT c.a, c.b,
             len(list_intersect(ba.sh, bb.sh))::DOUBLE
             / (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))) AS jaccard
      FROM cand c
      JOIN base ba ON ba.doc = c.a
      JOIN base bb ON bb.doc = c.b
    )"""

#: verification + threshold output — the tail every portable-minhash
#: oracle shares.
_MH_VERIFY = (
    _MH_VERIFY_CTE
    + """
    SELECT a, b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5"""
)


@register(
    "dedup_exact",
    oracle=f"""
    SELECT content_hash, keeper_id, n_copies FROM (
      SELECT md5({norm_text_sql('text', spark=False)}) AS content_hash,
             min(doc_id) AS keeper_id, count(*) AS n_copies
      FROM documents GROUP BY 1
    )
    """,
    covers=("K9-exact",),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 exact dedup: md5 over normalized text (portable hash), one
    shuffle, keeper = min doc_id."""
    return exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id AS doc, lang, source,
             list_distinct(list_transform(range(0, len(tok)-2),
                           i -> array_to_string(list_slice(tok, i+1, i+3), ' '))) AS sh
      FROM (SELECT *, {_TOKS} AS tok
            FROM documents)
      WHERE len(tok) >= 3
    ), ex AS (SELECT doc, lang, source, len(sh) AS n_sh, unnest(sh) AS g FROM base)
    SELECT a, b, round(jaccard, 6) AS jaccard FROM (
      SELECT l.doc AS a, r.doc AS b,
             count(*)::DOUBLE / (l.n_sh + r.n_sh - count(*)) AS jaccard
      FROM ex l JOIN ex r
        ON l.g = r.g AND l.doc < r.doc AND l.lang = r.lang AND l.source = r.source
      GROUP BY l.doc, r.doc, l.n_sh, r.n_sh
    ) WHERE jaccard >= 0.1
    """,
    covers=("K9-jaccard",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 exact n-gram Jaccard within (lang, source) blocks — the
    oracle-checkable verifier the LSH tiers reduce to."""
    # band-ok: unbounded shingle keyspace; AQE skew-split covers hot grams
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ["lang", "source"],
        ngram=3,
        threshold=0.1,
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 minhashes are engine-specific — rows-only;
    # the pairs it emits are exactly verified by shingle Jaccard >= 0.5
    covers=("K9-minhash",),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 MinHash+LSH: banded candidate generation (16 hashes, 4
    bands), exact-Jaccard verification of candidates only. Hot band
    buckets (>512 members, the operator default) route through a
    min-doc representative so candidate output stays linear per bucket
    — see operators/dedup.bucket_pairs and band_bucket_stats."""
    # band-ok: operator default cap 512 + 2^64 xxhash band keyspace
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        # shingle side of the verify joins: same 32x-documents bound
        # convention as seed_bcast_bound (operator docstrings)
        sh_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64-based fingerprint — rows-only
    covers=("K9-simhash",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 SimHash-64: banded blocking + bit_count hamming verify; hot
    band buckets (>512) route through a min-doc representative."""
    # band-ok: operator default cap 512 (fixed 4x2^16 band space needs it)
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a, b, round(score, 6) AS score FROM (
      SELECT l.vec_id AS a, r.vec_id AS b,
             list_aggregate(list_transform(list_zip(l.v, r.v), p -> p[1]*p[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(l.v, x -> x*x), 'sum'))
                * sqrt(list_aggregate(list_transform(r.v, x -> x*x), 'sum'))) AS score
      FROM e l JOIN e r ON l.vec_id < r.vec_id
    ) WHERE score >= 0.35
    """,
    covers=("K9-embedding",),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 embedding near-dup: cosine >= 0.35 pairs. Candidates come
    from MLlib random-hyperplane LSH buckets at a recall-conservative
    bucket_length that makes the bucket join ~brute force (measured:
    evidence/brp_occupancy_r11.json) — same values as brute force, so
    the brute-force DuckDB oracle still hash-checks it (the r4-advised
    candidate-generation swap; embedding_neardup_pairs remains the
    in-block verifier). Correctness tier by declaration: the ANN scale
    paths are IVF and the capped SRP family."""
    from fegis_spark.operators.dedup import embedding_neardup_pairs_lsh

    # band-ok: correctness-tier by declaration — the recall-conservative
    # bucket_length makes the BRP bucket join ~brute-force (measured 51%
    # single-bucket occupancy, evidence/brp_occupancy_r11.json); scale
    # paths are IVF / capped SRP (operator docstring has the full story)
    return embedding_neardup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id", threshold=0.35
    )


def _semdedup_oracle() -> str:
    """DuckDB restatement of operators/dedup.semantic_dedup: SAME
    md5-derived ±1 centroids and exact-integer routing dots as the
    portable-IVF fragments (operators/knn.ivfp_dots), first-max list
    assignment (first_arg_sql), qdot/|q| centroid similarity (exact
    integers under the sqrt → IEEE-identical), sequential-fold pair
    cosine, and the SemDeDup keep-the-outlier rule as a CASE over
    (csim, vec_id)."""
    from fegis_spark.functions.vector import int_dot_sql, int_quant_sql
    from fegis_spark.operators.knn import first_arg_sql, ivfp_dots
    from fegis_spark.queries.vector_q import _cos_pair

    q = int_quant_sql("embedding", False)
    cos = _cos_pair("l.v", "r.v")
    return f"""
    WITH cq AS MATERIALIZED (
      SELECT vec_id, embedding, {ivfp_dots("embedding", 64, spark=False)} AS dots,
             sqrt(CAST({int_dot_sql(q, q, False)} AS DOUBLE)) AS qn
      FROM embeddings
    ), base AS (
      SELECT vec_id, embedding AS v,
             {first_arg_sql("dots", False)} AS list_id,
             CAST(list_max(dots) AS DOUBLE) / nullif(qn, 0.0) AS csim
      FROM cq
    ), dropped AS (
      SELECT DISTINCT CASE WHEN l.csim > r.csim
                             OR (l.csim = r.csim AND l.vec_id > r.vec_id)
                           THEN l.vec_id ELSE r.vec_id END AS vec_id
      FROM base l JOIN base r ON l.list_id = r.list_id AND l.vec_id < r.vec_id
      WHERE {cos} >= 0.35
    )
    SELECT b.vec_id, b.list_id, round(b.csim, 6) AS centroid_sim,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM base b LEFT JOIN dropped d USING (vec_id)
    """


@register(
    "dedup_semantic",
    oracle=_semdedup_oracle(),
    covers=("K9-embedding", "[EXT]-semdedup"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup semantic deduplication (Abbas et al. 2023):
    cluster embeddings via the md5-centroid portable-IVF routing, then
    within each cluster drop the closer-to-centroid member of every
    cosine>=0.35 pair — keep the outliers, the paper's diversity-
    preserving choice. Every decision (cluster, candidacy, keep/drop)
    is exact-integer or IEEE-deterministic, so the full per-vector
    verdict table value-matches the DuckDB oracle. Scale: one list_id
    equi-self-join (clusters stay bounded as n_lists grows with the
    corpus) + one distinct; see operators/dedup.semantic_dedup."""
    from fegis_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )


_EDGES_SQL = rf"""
    WITH base AS (
      SELECT doc_id AS doc, lang, source,
             list_distinct(list_transform(range(0, len(tok)-2),
                           i -> array_to_string(list_slice(tok, i+1, i+3), ' '))) AS sh
      FROM (SELECT *, {_TOKS} AS tok
            FROM documents)
      WHERE len(tok) >= 3
    ), ex AS (SELECT doc, lang, source, len(sh) AS n_sh, unnest(sh) AS g FROM base),
    edges AS (
      SELECT a, b FROM (
        SELECT l.doc AS a, r.doc AS b,
               count(*)::DOUBLE / (l.n_sh + r.n_sh - count(*)) AS jaccard
        FROM ex l JOIN ex r
          ON l.g = r.g AND l.doc < r.doc AND l.lang = r.lang AND l.source = r.source
        GROUP BY l.doc, r.doc, l.n_sh, r.n_sh
      ) WHERE jaccard >= 0.1
    )
"""


@register(
    "dedup_components",
    oracle="WITH RECURSIVE "
    + _EDGES_SQL.strip().removeprefix("WITH ")
    + """,
    nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    cc(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.b, cc.lbl FROM cc JOIN und u ON cc.n = u.a WHERE cc.lbl < u.b
    )
    SELECT n AS node, MIN(lbl) AS component FROM cc GROUP BY n
    """,
    covers=("K9-components",),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 keeper selection: connected components over the (oracle-
    stable) n-gram-Jaccard pair graph — min-id label propagation vs a
    DuckDB recursive CTE."""
    from fegis_spark.operators.dedup import connected_components

    # band-ok: unbounded shingle keyspace; AQE skew-split covers hot grams
    edges = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ["lang", "source"],
        ngram=3,
        threshold=0.1,
    )
    return connected_components(edges)


@register(
    "dedup_components_star",
    oracle="WITH RECURSIVE "
    + _EDGES_SQL.strip().removeprefix("WITH ")
    + """,
    nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    cc(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.b, cc.lbl FROM cc JOIN und u ON cc.n = u.a WHERE cc.lbl < u.b
    )
    SELECT n AS node, MIN(lbl) AS component FROM cc GROUP BY n
    """,
    covers=("K9-components",),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 keeper selection via alternating large-star/small-star
    (Kiveris et al. 2014) — the O(log n)-round scale path for long
    duplicate chains, hash-checked against the same recursive-CTE
    oracle as the min-label loop."""
    from fegis_spark.operators.dedup import connected_components_star

    # band-ok: unbounded shingle keyspace; AQE skew-split covers hot grams
    edges = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ["lang", "source"],
        ngram=3,
        threshold=0.1,
    )
    return connected_components_star(edges)


@register(
    "dedup_incremental",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             {md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} % 100 AS bucket,
             md5({norm_text_sql('text', spark=False)}) AS h
      FROM documents
    ),
    corpus AS (SELECT h FROM hashed WHERE bucket < 50),
    batch  AS (SELECT doc_id, lang, h FROM hashed WHERE bucket >= 50)
    SELECT b.doc_id, b.lang
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
    covers=("K9-exact",),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 incremental exact dedup — the daily-ingest shape: drop every
    new-batch document whose normalized content hash already exists in
    the indexed corpus (left_anti on the hash). Here corpus/batch are
    md5-bucket halves of documents (deterministic, engine-portable);
    in production the corpus side is the stored hash index. Anti join
    on a single hash key: both sides shuffle once on h — at 100 TB the
    corpus hash index is the big side, so pre-bucket it by h (operators/
    scale.write_bucketed) and only the daily batch moves."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(f"{md5_int_sql('CAST(doc_id AS STRING)', 8, spark=True)} % 100").alias(
            "bucket"
        ),
        F.expr(f"md5({norm_text_sql('text', spark=True)})").alias("h"),
    )
    corpus = docs.filter(F.col("bucket") < 50).select("h")
    batch = docs.filter(F.col("bucket") >= 50)
    return batch.join(corpus, "h", "left_anti").select("doc_id", "lang")


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS doc, {{toks}} AS tok FROM documents
    ), g AS (
      SELECT doc, i AS pos,
             array_to_string(list_slice(tok, i+1, i+8), ' ') AS gram
      FROM base, unnest(range(0, len(tok)-7)) AS t(i)
      WHERE len(tok) >= 8
    ), freq AS (
      SELECT gram, COUNT(DISTINCT doc) AS nd FROM g GROUP BY gram
    ), flagged AS (
      SELECT g.doc, g.pos, (f.nd > 1) AS dup
      FROM g JOIN freq f USING (gram)
    ), runs AS (
      SELECT doc, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS grp
      FROM flagged WHERE dup
    ), islands AS (
      SELECT doc, grp, COUNT(*) AS run_len FROM runs GROUP BY doc, grp
    ), per_doc AS (
      SELECT doc, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM flagged GROUP BY doc
    )
    SELECT p.doc, p.n_spans, p.n_dup_spans,
           round(CAST(p.n_dup_spans AS DOUBLE) / p.n_spans, 6) AS dup_frac,
           CAST(m.max_run + 7 AS BIGINT) AS max_run_tokens
    FROM per_doc p
    JOIN (SELECT doc, MAX(run_len) AS max_run FROM islands GROUP BY doc) m
      USING (doc)
    WHERE p.n_dup_spans > 0
    """.format(toks=_TOKS),
    covers=("[EXT]-substring-dedup", "K9-exact"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact substring-span dedup (the Lee et al. 2022
    "Deduplicating Training Data" decision, re-expressed for Spark):
    flag every document whose 8-token shingles also occur in ANOTHER
    document, with the per-doc duplicated-span fraction and the
    longest contiguous duplicated run (gaps-and-islands over shingle
    positions; run of L shingles = L+7 shared tokens). Differs from
    doc_novelty (graded 3-gram novelty) by span length, cross-doc
    distinct-count semantics, and emitting the dedup decision itself.

    Plan: ordered shingles via Scala NGram + posexplode, ONE gram
    hash-agg (COUNT(DISTINCT doc) via two-level agg), equi-join back
    on the 128-bit md5 of the gram (32-byte shuffle key instead of the
    ~50-byte gram string; the string itself never shuffles), then
    doc-partitioned windows for the islands. All keys hash-distribute;
    nothing is corpus-quadratic.

    The positional-gram projection (doc, pos, gh — ~48 bytes/row) and
    the flagged table (doc, pos, dup — ~17 bytes/row) are persisted
    MEMORY_AND_DISK: ex feeds both the frequency agg and the join-back,
    flagged feeds both the islands window and the per-doc counts —
    without the caches the corpus is scanned and re-shingled 8×
    (plan-measured), with them once. At warehouse scale you'd
    materialize to scratch tables. The returned plan references the
    caches, so the operator cannot unpersist them; they stay until LRU
    eviction or spark.catalog.clearCache() (the repo-wide
    cache-ownership policy)."""
    from pyspark import StorageLevel
    from pyspark.ml.feature import NGram
    from pyspark.sql import Window

    from fegis_spark.operators.dedup import tokens

    base = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("doc"), tokens("text").alias("tok"))
        .filter(F.size("tok") >= 8)
    )
    ng = NGram(n=8, inputCol="tok", outputCol="__g")
    ex = (
        ng.transform(base)
        .select("doc", F.posexplode("__g").alias("pos", "gram"))
        .select("doc", "pos", F.md5("gram").alias("gh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = ex.groupBy("gh").agg(F.countDistinct("doc").alias("nd"))
    flagged = (
        ex.join(freq, "gh")
        .select("doc", "pos", (F.col("nd") > 1).alias("dup"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    w = Window.partitionBy("doc").orderBy("pos")  # grpwin-ok: doc cardinality scales with input
    runs = (
        flagged.filter("dup")
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc")
        .agg(F.max("run_len").alias("max_run"))
    )
    per_doc = flagged.groupBy("doc").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("dup").cast("int")).cast("bigint").alias("n_dup_spans"),
    )
    return (
        per_doc.filter(F.col("n_dup_spans") > 0)
        .join(runs, "doc")
        .select(
            "doc",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6).alias(
                "dup_frac"
            ),
            (F.col("max_run") + 7).cast("bigint").alias("max_run_tokens"),
        )
    )


@register(
    "dedup_minhash_portable",
    oracle=f"""
    WITH {_mh_pipeline_cte('documents')}, cand AS (
      SELECT DISTINCT l.doc AS a, r.doc AS b
      FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
    ), {_MH_VERIFY}
    """,
    covers=("K9-minhash",),
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 MinHash+LSH, oracle-checked end-to-end: md5-derived 60-bit
    hash family both engines can compute, so banding, candidate
    generation, AND verification are value-checked cross-engine. It
    certifies the algebra of the (faster, xxhash64, rows-only)
    dedup_minhash_lsh, which runs the same minhash_lsh_pairs with the
    other hash family."""
    # band-ok: 2^60 md5 band keyspace — no band-space saturation;
    # template hot buckets are the capped twin's contract
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        max_bucket_size=None,
        portable=True,
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
        sh_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )


@register(
    "dedup_minhash_capped",
    oracle=f"""
    WITH docs2 AS ({duck_hot_docs()}),
    {_mh_pipeline_cte('docs2')}, sized AS MATERIALIZED (
      SELECT doc, b, bh,
             COUNT(*) OVER (PARTITION BY b, bh) AS bs,
             MIN(doc) OVER (PARTITION BY b, bh) AS rep
      FROM banded
    ), cand AS (
      SELECT DISTINCT a, b FROM (
        SELECT l.doc AS a, r.doc AS b
        FROM sized l JOIN sized r
          ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
        WHERE l.bs <= {HOT_CAP}
        UNION ALL
        SELECT rep AS a, doc AS b FROM sized
        WHERE bs > {HOT_CAP} AND doc <> rep
      )
    ), {_MH_VERIFY}
    """,
    covers=("K9-minhash",),
)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 MinHash+LSH with the hot-bucket cap EXERCISED under the
    oracle (r5 verdict #5): a deterministic boilerplate template is
    injected into every 5th document, creating an exact-template
    cluster (100 docs at sf0.01, 1000 at sf0.1) whose band buckets all
    exceed max_bucket_size=32 — so the min-doc representative routing
    (banded_candidate_pairs' star path) actually fires, and the DuckDB
    oracle replays the SAME routing (window bucket-size + min-doc rep,
    small-bucket self-join UNION star rows, then exact-Jaccard verify)
    value-for-value. The uncapped portable twin certifies the
    candidate algebra; THIS query certifies the cap semantics
    cross-engine: m-1 star candidates instead of m(m-1)/2, verification
    unchanged."""
    # band-ok: certifies HOT_CAP routing itself (max_bucket_size below)
    return minhash_lsh_pairs(
        spark_hot_docs(load_table(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        max_bucket_size=HOT_CAP,
        portable=True,
        # hot-docs corpus = documents + a bounded constructed cluster;
        # 32x covers the seeds projection expansion (operator docstring)
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
        sh_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )


def _simhash_portable_oracle() -> str:
    """Generate the DuckDB twin of the md5-60 simhash_pairs path from
    the same bit loop and the operator's SimHash geometry
    (SIMHASH_BANDS bands over the SIMHASH_BITS_PORTABLE-bit sketch), so
    the two engines cannot drift. Since r11 it replays the HOT_CAP min-doc
    representative routing too: simhash's 4x15-bit band space is fixed
    (131072 buckets), so like SRP it saturates at scale and the catalog
    query passes max_bucket_size=HOT_CAP."""
    hot_cap = HOT_CAP
    bits = SIMHASH_BITS_PORTABLE
    width = bits // SIMHASH_BANDS
    counters = ",\n             ".join(
        f"SUM(((th >> {b}) & 1) * 2 - 1) AS c{b}" for b in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN c{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return rf"""
    WITH ex AS (
      SELECT doc_id AS doc, unnest({_TOKS}) AS t FROM documents
    ), th AS (
      SELECT doc, {md5_int_sql('t', 15, spark=False)} AS th FROM ex
    ), counters AS (
      SELECT doc,
             {counters}
      FROM th GROUP BY doc
    ), sh AS (
      SELECT doc, {sim} AS sim FROM counters
    ), banded AS (
      SELECT doc, sim, b, (sim >> ({width} * b)) & {(1 << width) - 1} AS bh
      FROM sh, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
    ), sized AS MATERIALIZED (
      SELECT doc, sim, b, bh,
             COUNT(*) OVER (PARTITION BY b, bh) AS bs,
             MIN(doc) OVER (PARTITION BY b, bh) AS rep,
             FIRST_VALUE(sim) OVER (PARTITION BY b, bh ORDER BY doc) AS rep_sim
      FROM banded
    ), cand AS (
      SELECT DISTINCT a, b, sim_a, sim_b FROM (
        SELECT l.doc AS a, r.doc AS b, l.sim AS sim_a, r.sim AS sim_b
        FROM sized l JOIN sized r
          ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
        WHERE l.bs <= {hot_cap}
        UNION ALL
        SELECT rep AS a, doc AS b, rep_sim AS sim_a, sim AS sim_b
        FROM sized WHERE bs > {hot_cap} AND doc <> rep
      )
    )
    SELECT a, b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """


@register(
    "dedup_simhash_portable",
    oracle=_simhash_portable_oracle(),
    covers=("K9-simhash",),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 SimHash, oracle-checked end-to-end: 60-bit md5-derived
    sketch, 4×15-bit band blocking (pigeonhole-exact for hamming<=3),
    bit_count(xor) verify — certifies the algebra dedup_simhash runs
    through the same simhash_pairs with xxhash64. r11: the band space
    is fixed-width (4×2^15 buckets — saturates linearly with corpus
    size, the same failure mode the r10 64x probe measured on SRP), so
    candidates route through the HOT_CAP representative star and the
    oracle replays the routing. Recall note: the pigeonhole guarantee is
    intact in buckets <= HOT_CAP; over-cap buckets degrade to rep-star
    pairs — observable via band_bucket_stats, and those buckets are
    near-identical template clusters where every member matches the
    rep."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        max_hamming=3,
        max_bucket_size=HOT_CAP,
        portable=True,
    )


from fegis_spark.operators.text_analysis import quality_score_sql  # noqa: E402

_Q = quality_score_sql("text", spark=False)


@register(
    "dedup_keep_best",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id,
             md5({norm_text_sql('text', spark=False)}) AS content_hash,
             round({_Q}, 6) AS q
      FROM documents
    )
    , g AS (
      SELECT content_hash, COUNT(*) AS n_copies, MAX(q) AS max_q
      FROM scored GROUP BY content_hash HAVING COUNT(*) > 1
    )
    SELECT g.content_hash,
           MIN(s.doc_id) AS keeper_id,
           g.n_copies,
           round(g.max_q, 6) AS keeper_q
    FROM g JOIN scored s
      ON s.content_hash = g.content_hash AND s.q = g.max_q
    GROUP BY g.content_hash, g.n_copies, g.max_q
    """,
    covers=("K9-exact", "[EXT]-quality"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 keeper-policy variant: within each exact-duplicate cluster
    keep the HIGHEST-quality copy (ties → lowest doc_id), not min id —
    the policy real curation uses when near-identical pages differ in
    extraction quality. max_by with a total-order struct(q, -doc_id)
    key: one hash-agg shuffle, no join-back (the measured-1.5×
    min-struct pattern, inverted); struct keeps doc_id exact bigint
    (keep_best_dedup docstring has the 2^53 story). Keeper policy is
    exercised on constructed duplicate clusters in
    tests/test_ingest_dedup.py (sf0.01 documents has no exact dups, so
    the gate alone checks this query vacuously)."""
    from fegis_spark.operators.dedup import keep_best_dedup

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.expr(f"md5({norm_text_sql('text', spark=True)})").alias("content_hash"),
        F.round(F.expr(quality_score_sql("text", spark=True)), 6).alias("q"),
    )
    return keep_best_dedup(scored, "content_hash", "doc_id", "q")


@register(
    "dedup_bloom_incremental",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             {md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} % 100 AS bucket,
             md5({norm_text_sql('text', spark=False)}) AS h
      FROM documents
    ),
    corpus AS (SELECT h FROM hashed WHERE bucket < 50),
    batch  AS (SELECT doc_id, lang, h FROM hashed WHERE bucket >= 50)
    SELECT b.doc_id, b.lang
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
    covers=("K9-exact",),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 incremental dedup, bloom-prefiltered — the 100 TB shape of
    `dedup_incremental`. Semantics are IDENTICAL to the plain anti-join
    (same oracle SQL): a bloom filter has no false negatives, so
    batch rows the bloom rejects are definitively new and skip the
    join entirely; only bloom-positive candidates (true dups + the
    false-positive fraction, ~0.1% at 23 bits/key) are verified by the
    exact anti-join. At 100 TB this means the corpus-sized hash index
    feeds ONE compact aggregate (the bloom build: numBits/8 bytes
    broadcast, ~#index-entries scan but no shuffle of the batch
    against it) and the anti-join shuffle moves only candidates —
    versus shuffling the entire daily batch in the plain form. The
    bloom builds distributed (partition-local numpy bitmaps OR-merged,
    operators/dedup.build_bloom — driver cost bounded by partitions ×
    bloom bytes, a design constant) and probes via an Arrow-vectorized
    pandas_udf (bloom_filter_agg / might_contain are not SQL-registered
    in this Spark, and df.stat's BloomFilter object cannot cross the
    Python worker boundary).

    Sized at 23 bits/key for 50k keys (~0.1% FP); scale num_bits with
    the index size in production. No-false-negative + exact-verify
    behavior pinned in tests/test_bloom_dedup.py; result equality with
    the plain anti-join is the oracle itself."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(f"{md5_int_sql('CAST(doc_id AS STRING)', 8, spark=True)} % 100").alias(
            "bucket"
        ),
        F.expr(f"md5({norm_text_sql('text', spark=True)})").alias("h"),
    )
    corpus = docs.filter(F.col("bucket") < 50).select("h")
    batch = docs.filter(F.col("bucket") >= 50)
    from fegis_spark.operators.dedup import bloom_maybe, build_bloom

    num_bits = 1_150_000  # ~23 bits/key at 50k keys => ~0.1% FP
    bf = build_bloom(corpus, "h", num_bits)
    maybe = bloom_maybe(spark, bf, num_bits)(F.col("h"))
    batch = batch.withColumn("maybe", maybe)
    direct = batch.filter(~F.col("maybe")).select("doc_id", "lang")
    verified = (
        batch.filter(F.col("maybe"))
        .join(corpus, "h", "left_anti")
        .select("doc_id", "lang")
    )
    return direct.unionAll(verified)


@register(
    "dedup_incremental_near",
    oracle=rf"""
    WITH {_mh_pipeline_cte('documents')}, bk AS (
      SELECT doc_id AS doc,
             {md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} % 100 AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT l.doc AS corpus_doc, r.doc AS batch_doc
      FROM banded l
      JOIN bk bl ON bl.doc = l.doc AND bl.bucket < 50
      JOIN banded r ON l.b = r.b AND l.bh = r.bh
      JOIN bk br ON br.doc = r.doc AND br.bucket >= 50
    ), ver AS (
      SELECT c.corpus_doc, c.batch_doc,
             len(list_intersect(ba.sh, bb.sh))::DOUBLE
             / (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))) AS jaccard
      FROM cand c
      JOIN base ba ON ba.doc = c.corpus_doc
      JOIN base bb ON bb.doc = c.batch_doc
    )
    SELECT corpus_doc, batch_doc, round(jaccard, 6) AS jaccard
    FROM ver WHERE jaccard >= 0.5
    """,
    covers=("K9-minhash", "K9-exact"),
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 incremental NEAR-dup dedup, oracle-checked end-to-end: which
    new-batch documents (md5 bucket >= 50 of doc_id, the same
    deterministic corpus/batch split as dedup_incremental) are MinHash
    near-duplicates of the indexed corpus (bucket < 50). Candidates
    come only from the corpus-band x batch-band join — daily cost
    proportional to the batch, never within-corpus pairs (see
    operators/dedup.minhash_incremental_pairs_portable)."""
    from fegis_spark.operators.dedup import minhash_incremental_pairs_portable

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"{md5_int_sql('CAST(doc_id AS STRING)', 8, spark=True)} % 100")
    docs = docs.withColumn("bucket", bucket)
    # band-ok: 2^60 md5 band keyspace, oracle replays the uncapped
    # candidate set exactly (see dedup_minhash_portable); the capped
    # incremental form is exercised by the streaming sink (NEARDUP_CAP)
    return minhash_incremental_pairs_portable(
        docs.filter(F.col("bucket") < 50),
        docs.filter(F.col("bucket") >= 50),
        "text",
        "doc_id",
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )


@register(
    "dedup_streaming_replay",
    oracle=rf"""
    WITH {_mh_pipeline_cte("documents", "MATERIALIZED ")}, ids AS MATERIALIZED (
      SELECT doc_id AS doc,
             CAST({md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} % 3 AS INT) AS chunk
      FROM documents
    ), cand AS (
      SELECT DISTINCT l.doc AS a, r.doc AS b
      FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
    ), np AS MATERIALIZED (
      SELECT c.a, c.b FROM cand c
      JOIN base ba ON ba.doc = c.a
      JOIN base bb ON bb.doc = c.b
      WHERE len(list_intersect(ba.sh, bb.sh))::DOUBLE
            / (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))) >= 0.5
    ), sp AS MATERIALIZED (
      SELECT a AS x, b AS y FROM np UNION ALL SELECT b AS x, a AS y FROM np
    ), v0 AS MATERIALIZED (
      SELECT i.doc,
             MIN(CASE WHEN q.chunk = 0 AND s.x < i.doc THEN s.x END) AS rep_within
      FROM (SELECT doc FROM ids WHERE chunk = 0) i
      LEFT JOIN sp s ON s.y = i.doc
      LEFT JOIN ids q ON q.doc = s.x
      GROUP BY i.doc
    ), adm0 AS MATERIALIZED (SELECT doc FROM v0 WHERE rep_within IS NULL),
    v1 AS MATERIALIZED (
      SELECT i.doc,
             MIN(CASE WHEN a.doc IS NOT NULL THEN s.x END) AS rep_corpus,
             MIN(CASE WHEN q.chunk = 1 AND s.x < i.doc THEN s.x END) AS rep_within
      FROM (SELECT doc FROM ids WHERE chunk = 1) i
      LEFT JOIN sp s ON s.y = i.doc
      LEFT JOIN ids q ON q.doc = s.x
      LEFT JOIN adm0 a ON a.doc = s.x
      GROUP BY i.doc
    ), adm1 AS MATERIALIZED (
      SELECT doc FROM adm0
      UNION ALL
      SELECT doc FROM v1 WHERE rep_corpus IS NULL AND rep_within IS NULL
    ), v2 AS MATERIALIZED (
      SELECT i.doc,
             MIN(CASE WHEN a.doc IS NOT NULL THEN s.x END) AS rep_corpus,
             MIN(CASE WHEN q.chunk = 2 AND s.x < i.doc THEN s.x END) AS rep_within
      FROM (SELECT doc FROM ids WHERE chunk = 2) i
      LEFT JOIN sp s ON s.y = i.doc
      LEFT JOIN ids q ON q.doc = s.x
      LEFT JOIN adm1 a ON a.doc = s.x
      GROUP BY i.doc
    )
    SELECT doc, 0 AS chunk, (rep_within IS NOT NULL) AS is_near_dup,
           rep_within AS rep
    FROM v0
    UNION ALL
    SELECT doc, 1 AS chunk,
           (rep_corpus IS NOT NULL OR rep_within IS NOT NULL) AS is_near_dup,
           COALESCE(rep_corpus, rep_within) AS rep
    FROM v1
    UNION ALL
    SELECT doc, 2 AS chunk,
           (rep_corpus IS NOT NULL OR rep_within IS NOT NULL) AS is_near_dup,
           COALESCE(rep_corpus, rep_within) AS rep
    FROM v2
    """,
    covers=("[EXT]-streaming-neardup", "K9-minhash", "§2.10-dedup"),
)
def dedup_streaming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup verdict algebra, oracle-checked end-to-end
    (r13, promoting [EXT]-streaming-neardup from library-only): the
    corpus is split into 3 deterministic md5 chunks replayed in order
    as micro-batches through the SAME verdict core the foreachBatch
    sink runs (streaming/neardup.neardup_verdicts) — each chunk probes
    the MinHash-band state of everything ADMITTED by earlier chunks,
    within-chunk dups collapse to the min-id representative, and only
    novel docs grow the state. The oracle unrolls the 3-epoch fold in
    SQL (MATERIALIZED step CTEs — the iterative-oracle rule) over the
    shared portable-minhash pipeline, replicating the admit recursion
    exactly; the file/commit/crash-replay plumbing on top of this
    algebra is pinned by tests/test_neardup_stream.py."""
    from fegis_spark.streaming.neardup import neardup_replay_chunks

    docs = load_table(spark, sf_dir, "documents")
    chunk = F.expr(f"CAST({md5_int_sql('CAST(doc_id AS STRING)', 8, spark=True)} % 3 AS INT)")
    docs = docs.withColumn("chunk3", chunk)
    return neardup_replay_chunks(spark, docs, "text", "doc_id", "chunk3", 3)


@register(
    "dedup_minhash_eval",
    oracle=rf"""
    WITH {_mh_pipeline_cte('documents', 'MATERIALIZED ')}, exg AS (
      SELECT doc, len(sh) AS n_sh, unnest(sh) AS g FROM base
    ), truth AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT l.doc AS a, r.doc AS b,
               count(*)::DOUBLE / (l.n_sh + r.n_sh - count(*)) AS jaccard
        FROM exg l JOIN exg r ON l.g = r.g AND l.doc < r.doc
        GROUP BY l.doc, r.doc, l.n_sh, r.n_sh
      ) WHERE jaccard >= 0.5
    ), cand AS (
      SELECT DISTINCT l.doc AS a, r.doc AS b
      FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
    ), pred AS MATERIALIZED (
      SELECT c.a, c.b FROM cand c
      JOIN base ba ON ba.doc = c.a
      JOIN base bb ON bb.doc = c.b
      WHERE len(list_intersect(ba.sh, bb.sh))::DOUBLE
            / (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))) >= 0.5
    ), u AS (
      SELECT COALESCE(p.a, t.a) AS a, COALESCE(p.b, t.b) AS b,
             CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
             CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
      FROM pred p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    )
    SELECT CAST(SUM(in_truth) AS BIGINT) AS n_true,
           CAST(SUM(in_pred * in_truth) AS BIGINT) AS n_found,
           CAST(SUM(in_pred * (1 - in_truth)) AS BIGINT) AS n_extra,
           CAST(SUM(in_truth * (1 - in_pred)) AS BIGINT) AS n_missed,
           round(CAST(SUM(in_pred * in_truth) AS DOUBLE)
                 / nullif(SUM(in_truth), 0), 6) AS recall
    FROM u
    """,
    covers=("K9-minhash", "K9-jaccard"),
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 LSH-quality evaluation: recall of the (portable) MinHash+LSH
    pipeline against exact global n-gram-Jaccard ground truth at the
    same 0.5 threshold — the measurement that justifies trusting the
    banded pipeline on the real corpus. n_extra is a PROOF column: the
    pipeline exact-verifies candidates, so predicted pairs are a
    subset of truth and n_extra must be 0; recall < 1 counts true
    pairs whose signatures never collided in any band.

    The ground truth is the gram-equi-join brute force — quadratic
    only within shared-gram groups, but still the expensive side: at
    100 TB this evaluation runs on a deterministic md5-bucket SAMPLE
    (the pipeline under test runs everywhere). One full-outer join of
    two tiny pair sets feeds a single 1-row agg.

    r15 opt (VERDICT r14 #1, guide §1.2): truth and pred previously
    each rebuilt the tokenize+NGram shingle pass over the corpus
    (pred persisted its copy; truth recomputed its own, twice-planned
    but once-executed via ReusedExchange). Now ONE persisted shingle
    base from minhash_sig_bands feeds the signature build, the
    candidate verify joins AND the truth-side gram equi-join
    (ngram_jaccard_pairs shingle_base param) — the corpus is
    tokenized/shingled exactly once per run. Shingle family identical
    (with_shingles, same ngram), so values are unchanged."""
    from fegis_spark.operators.dedup import (
        banded_candidate_pairs,
        minhash_sig_bands,
        minhash_verify_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, _sig, banded = minhash_sig_bands(
        docs, "text", "doc_id", True,
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )
    # band-ok: eval harness over the sf corpus — unbounded gram keyspace
    # (truth) and 2^60 md5 bands (pred), both declared above
    truth = ngram_jaccard_pairs(
        docs, "text", "doc_id", [], threshold=0.5, shingle_base=base
    )
    # band-ok: 2^60 md5 band keyspace (see dedup_minhash_portable)
    cand = banded_candidate_pairs(banded, max_bucket_size=None)
    pred = minhash_verify_pairs(
        cand, base.select("doc", "sh"), 0.5,
        sh_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )
    u = (
        pred.select("a", "b", F.lit(1).alias("in_pred"))
        .join(
            truth.select("a", "b", F.lit(1).alias("in_truth")),
            ["a", "b"],
            "full_outer",
        )
        .fillna(0, ["in_pred", "in_truth"])
    )
    return u.agg(
        F.sum("in_truth").cast("bigint").alias("n_true"),
        F.sum(F.col("in_pred") * F.col("in_truth")).cast("bigint").alias("n_found"),
        F.sum(F.col("in_pred") * (1 - F.col("in_truth"))).cast("bigint").alias("n_extra"),
        F.sum(F.col("in_truth") * (1 - F.col("in_pred"))).cast("bigint").alias("n_missed"),
        F.round(
            F.sum(F.col("in_pred") * F.col("in_truth"))
            / F.nullif(F.sum("in_truth"), F.lit(0)),
            6,
        ).alias("recall"),
    )


@register(
    "edit_distance_verify",
    oracle="""
    WITH p AS (
      SELECT lang, source, doc_id, substr(text, 1, 64) AS pre
      FROM documents
    ),
    pairs AS (
      SELECT a.lang, a.source,
             levenshtein(a.pre, b.pre) AS d
      FROM p a JOIN p b
        ON a.lang = b.lang AND a.source = b.source
       AND a.doc_id < b.doc_id
    )
    SELECT lang, source,
           COUNT(*) AS n_pairs,
           CAST(MIN(d) AS BIGINT) AS min_dist,
           CAST(SUM(d) AS BIGINT) AS sum_dist,
           CAST(SUM(CASE WHEN d <= 16 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_close
    FROM pairs GROUP BY lang, source
    """,
    covers=("[EXT]-edit-distance", "K9-jaccard"),
)
def edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] edit-distance verification tier: Levenshtein over 64-char
    prefixes for every candidate pair inside (lang, source) blocks —
    the character-level verifier dedup toolkits run on short fields
    (titles, URLs, prefixes) where token Jaccard is too coarse.
    Levenshtein is native JVM/C in both engines with identical DP
    semantics, so the whole tier hash-matches. Quadratic only WITHIN
    blocks (same bounded-block contract as dedup_ngram_jaccard, which
    documents the LSH swap for unbounded blocks); the prefix cap
    bounds each DP at 64×64 regardless of document length."""
    p = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "doc_id", F.substring("text", 1, 64).alias("pre")
    )
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.col("a.source").alias("source"),
        F.levenshtein(F.col("a.pre"), F.col("b.pre")).alias("d"),
    )
    return pairs.groupBy("lang", "source").agg(
        F.count("*").alias("n_pairs"),
        F.min("d").cast("bigint").alias("min_dist"),
        F.sum("d").cast("bigint").alias("sum_dist"),
        F.sum((F.col("d") <= 16).cast("int")).cast("bigint").alias("n_close"),
    )


@register(
    "dedup_attribution",
    oracle=f"""
    WITH {_mh_pipeline_cte('documents')}, cand AS (
      SELECT DISTINCT l.doc AS a, r.doc AS b
      FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
    ), {_MH_VERIFY_CTE},
    dup AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
    keep AS (SELECT b AS dropped, MIN(a) AS keeper FROM dup GROUP BY b)
    SELECT dk.source AS src_keep, dd.source AS src_drop,
           COUNT(*) AS n_docs,
           CAST(SUM(dd.n_chars) AS BIGINT) AS chars_dropped
    FROM keep k
    JOIN documents dk ON dk.doc_id = k.keeper
    JOIN documents dd ON dd.doc_id = k.dropped
    GROUP BY 1, 2
    """,
    covers=("K9-minhash", "[EXT]-source-overlap"),
)
def dedup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] dedup-flow attribution matrix: for every near-dup doc the
    portable MinHash pipeline would drop (min-id partner convention —
    the pairwise twin of dedup_keep_best's cluster rule), count the
    dropped docs and their character mass per (keeper source, dropped
    source) — the governance table telling you WHICH sources lose
    content to WHICH in dedup ("B is mostly copies of A"), the
    decision input behind CCNet-style source ordering. Transitive
    cluster attribution is dedup_components' job; this is the
    per-pair flow.

    100 TB posture: everything through `ver` is exactly
    dedup_minhash_portable's banded plan (at production scale swap in
    the capped variant); the pair table collapses to one keeper per
    dropped doc (tiny), which joins back to `documents` twice as a
    BROADCAST — the corpus is never shuffled for the attribution
    itself, and the output is bounded by sources²."""
    docs = load_table(spark, sf_dir, "documents")
    # band-ok: 2^60 md5 band keyspace — no band-space saturation;
    # template hot buckets are the capped twin's contract
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        jaccard_threshold=0.5, max_bucket_size=None, portable=True,
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
        sh_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )
    keep = (
        pairs.groupBy("b")
        .agg(F.min("a").alias("keeper"))
        .withColumnRenamed("b", "dropped")
    )
    src = docs.select("doc_id", "source", "n_chars")
    # the (dropped, src_keep) frame is keeper-join output — one row per
    # dropped doc, tiny — so BOTH corpus joins build a broadcast side
    # and the corpus itself never shuffles for the attribution
    attributed = (
        src.alias("dk")
        .join(
            # duplicate-mass-proportional (one row per dropped doc) —
            # size-gated, not assumed bounded
            maybe_broadcast(keep.alias("k"), table_bytes(sf_dir, "documents")),
            F.col("dk.doc_id") == F.col("k.keeper"),
        )
        .select("k.dropped", F.col("dk.source").alias("src_keep"))
    )
    return (
        maybe_broadcast(attributed, table_bytes(sf_dir, "documents"))
        .join(
            src.alias("dd").withColumnRenamed("source", "src_drop"),
            F.col("dropped") == F.col("dd.doc_id"),
        )
        .groupBy("src_keep", "src_drop")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_dropped"),
        )
    )


@register(
    "dedup_cluster_profile",
    oracle="WITH RECURSIVE "
    + _EDGES_SQL.strip().removeprefix("WITH ")
    + """,
    nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    cc(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.b, cc.lbl FROM cc JOIN und u ON cc.n = u.a WHERE cc.lbl < u.b
    ),
    comp AS (SELECT n AS node, MIN(lbl) AS component FROM cc GROUP BY n),
    sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
    SELECT sz AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz - 1) AS BIGINT) AS docs_droppable
    FROM sizes GROUP BY sz
    """,
    covers=("K9-components", "[EXT]-report"),
)
def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] duplicate-cluster size profile: the governance summary a
    dedup owner reads before pulling the trigger — how many clusters
    of each size exist and how many documents a keep-one-per-cluster
    policy would drop. A long tail of pairs is routine; a single giant
    cluster means a boilerplate template is eating the corpus (and is
    exactly what the capped-LSH machinery routes around). Same
    pair graph + components as dedup_components, then two tiny
    aggregations; the profile is |distinct sizes| rows regardless of
    corpus scale."""
    from fegis_spark.operators.dedup import connected_components

    # band-ok: unbounded shingle keyspace; AQE skew-split covers hot grams
    edges = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ["lang", "source"],
        ngram=3,
        threshold=0.1,
    )
    sizes = (
        connected_components(edges)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("docs_droppable"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration audit (K9-minhash + estimator-audit family)


def _mh_estimate_oracle() -> str:
    """DuckDB replay of dedup_minhash_estimate_audit: same md5 MinHash
    pipeline, same HOT_CAP band routing, matching-component count per
    candidate pair against exact shingle Jaccard, rolled up per
    component-match count with a decimal-exact jaccard sum."""
    return f"""
    WITH {_mh_pipeline_cte('documents', 'MATERIALIZED ')}, sized AS MATERIALIZED (
      SELECT doc, b, bh,
             COUNT(*) OVER (PARTITION BY b, bh) AS bs,
             MIN(doc) OVER (PARTITION BY b, bh) AS rep
      FROM banded
    ), sigm AS MATERIALIZED (SELECT doc, s FROM sig),
    cand AS (
      SELECT DISTINCT a, b FROM (
        SELECT l.doc AS a, r.doc AS b
        FROM sized l JOIN sized r
          ON l.b = r.b AND l.bh = r.bh AND l.doc < r.doc
        WHERE l.bs <= {HOT_CAP}
        UNION ALL
        SELECT rep AS a, doc AS b FROM sized
        WHERE bs > {HOT_CAP} AND doc <> rep
      )
    ), scored AS (
      SELECT
        CAST(len(list_filter(range(1, {MINHASH_HASHES + 1}), i -> sa.s[i] = sb.s[i])) AS INTEGER)
          AS matches,
        round(len(list_intersect(ba.sh, bb.sh))::DOUBLE
              / (len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh))),
              6) AS j
      FROM cand c
      JOIN sigm sa ON sa.doc = c.a
      JOIN sigm sb ON sb.doc = c.b
      JOIN base ba ON ba.doc = c.a
      JOIN base bb ON bb.doc = c.b
    )
    SELECT matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(j AS DECIMAL(38,6))) AS DOUBLE) AS sum_jaccard
    FROM scored GROUP BY matches
    """


@register(
    "dedup_minhash_estimate_audit",
    oracle=_mh_estimate_oracle(),
    covers=("K9-minhash", "§2.4-agg"),
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 estimator-quality audit (r11, the MinHash sibling of
    hll_error_audit / quantile_error_audit): MinHash promises
    E[matching components / k] = Jaccard, and banded LSH's recall
    curve is built on that — so measure the calibration on the real
    candidate set. For every banded candidate pair (same md5 family
    and HOT_CAP routing as dedup_minhash_capped), count matching
    signature components (0..16) and compute exact shingle Jaccard,
    then roll up per match count: (matches, n_pairs, sum_jaccard) —
    mean exact Jaccard per estimator bucket is sum/n for the reader
    (emitted as decimal-exact sum + count per the CLAUDE.md rounded-
    mean rule). Scale: the pair table is band-bounded (cap routing),
    signature joins are k-wide projections; the HOF match count runs
    on the bounded pair table, never per corpus row."""
    from fegis_spark.operators.dedup import banded_candidate_pairs, minhash_sig_bands

    docs = load_table(spark, sf_dir, "documents")
    base, sig, banded = minhash_sig_bands(
        docs, "text", "doc_id", True,
        seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
    )
    # band-ok: 2^60 md5 band keyspace + HOT_CAP routing below
    pairs = banded_candidate_pairs(banded, max_bucket_size=HOT_CAP)
    # r15 opt (guide §2.4 "remove shuffles outright"): signature array
    # and shingle set attach in ONE join per pair side — the previous
    # shape joined the pair table four times (sa, sb, sh_a, sh_b),
    # re-shuffling the pairs at every step; pre-joining (doc, s, sh)
    # once halves the pair-table shuffles (4 -> 2 attach joins + 1
    # doc-keyed payload build whose sig side is already partitioned
    # by doc from its groupBy).
    payload = sig.select(
        "doc", F.array(*[F.col(f"mh{i}") for i in range(MINHASH_HASHES)]).alias("s")
    ).join(base.select("doc", "sh"), "doc")
    scored = (
        pairs.join(
            payload.select(
                F.col("doc").alias("a"),
                F.col("s").alias("sa"),
                F.col("sh").alias("sh_a"),
            ),
            "a",
        )
        .join(
            payload.select(
                F.col("doc").alias("b"),
                F.col("s").alias("sb"),
                F.col("sh").alias("sh_b"),
            ),
            "b",
        )
        .select(
            F.expr(
                "CAST(aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), "
                "0, (acc, v) -> acc + v) AS INT)"
            ).alias("matches"),
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a") + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                ),
                6,
            ).alias("j"),
        )
    )
    return scored.groupBy("matches").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("j").cast("decimal(38,6)")).cast("double").alias("sum_jaccard"),
    )


@register(
    "dedup_soft_weights",
    oracle=rf"""
    WITH hot AS (
      SELECT source,
             CASE WHEN doc_id % {HOT_MOD} = 0 THEN '{HOT_BOILER}'
                  ELSE text END AS text
      FROM documents
    ),
    counted AS (
      SELECT source,
             count(*) OVER (
               PARTITION BY md5({norm_text_sql('text', spark=False)})
             ) AS dup_count
      FROM hot
    )
    SELECT source, CAST(dup_count AS BIGINT) AS dup_count,
           COUNT(*) AS n_docs
    FROM counted GROUP BY source, dup_count
    """,
    covers=("K9-exact", "[EXT]-dedup-soft"),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SOFT deduplication accounting: instead of dropping exact
    duplicates, each copy is down-weighted to 1/dup_count so duplicated
    content contributes unit total mass to training (the soft
    alternative to hard dedup — repeated boilerplate stops dominating
    the loss without discarding the unique remainder of each page).
    The exact weights are the rationals 1/dup_count, so the query emits
    the integer sufficient statistic — the per-(source, dup_count)
    document histogram — from which the effective (weighted) corpus
    mass per source is SUM(n_docs / dup_count), computed losslessly by
    any consumer; emitting the float sum itself would be a
    partition-order-dependent IEEE sum (CLAUDE.md determinism rules).

    The natural corpus has zero exact duplicates at every sf, so the
    query runs over the constructed hot corpus (spark_hot_docs /
    HOT_BOILER injection, the CLAUDE.md pin-on-constructed-corpora
    convention): every doc_id % HOT_MOD == 0 row shares one text and
    forms a dup class of n/HOT_MOD copies that the weighting visibly
    collapses, while the rest stay dup_count = 1.

    100 TB posture: one scan, one exchange on the content hash for the
    count window, one hash-agg — no join-back, no corpus x corpus
    shape; the same plan as exact dedup plus a bounded histogram agg."""
    from fegis_spark.queries.sqlfrag import spark_hot_docs

    from pyspark.sql import Window

    docs = spark_hot_docs(load_table(spark, sf_dir, "documents"))
    h = F.expr(f"md5({norm_text_sql('text', spark=True)})")
    # grpwin-ok: content-hash keyspace scales with input
    w = Window.partitionBy(h)
    counted = docs.select(
        "source", F.count("*").over(w).cast("bigint").alias("dup_count")
    )
    return counted.groupBy("source", "dup_count").agg(
        F.count("*").alias("n_docs")
    )
