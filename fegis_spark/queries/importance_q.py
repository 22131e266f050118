"""Data-selection catalog queries ([EXT]): DSIR importance weighting
and per-source document caps.

Both are standard moves in assembling an LLM pretraining mix: DSIR
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") scores every raw document by how target-like its hashed
n-gram distribution is, and per-source caps (CCNet/RefinedWeb-style
domain caps) stop any single source from dominating the mix. Neither
exists in the reference (a Qdrant/MCP memory server); they extend the
SURVEY.md §2.12 surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fegis_spark.catalog import register, register_sql
from fegis_spark.model import load_table
from fegis_spark.queries.sqlfrag import md5_int_sql, portable_ln, tokens_sql

#: hashed-feature space size for DSIR. 256 keeps the bucket table
#: trivially broadcastable at any corpus size (the table is B rows no
#: matter how many distinct tokens exist — that is the entire point of
#: hashed features); production DSIR uses ~10^4, a knob not a redesign.
DSIR_BUCKETS = 256


@register(
    "dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             {md5_int_sql('t', 8, spark=False)} % {DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, unnest({tokens_sql('text', spark=False)}) AS t FROM documents)
    ),
    counts AS MATERIALIZED (
      SELECT bucket,
             COUNT(*) AS rcnt,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tcnt
      FROM tok GROUP BY bucket
    ),
    tot AS (SELECT SUM(rcnt) AS rtot, SUM(tcnt) AS ttot FROM counts),
    rates AS (
      SELECT bucket,
             CAST((c.tcnt + 1.0) / (t.ttot + {DSIR_BUCKETS}.0) AS DOUBLE) AS pa,
             CAST((c.rcnt + 1.0) / (t.rtot + {DSIR_BUCKETS}.0) AS DOUBLE) AS pb
      FROM counts c CROSS JOIN tot t
    ),
    lrs AS (
      SELECT bucket, {portable_ln('pa')} - {portable_ln('pb')} AS lr FROM rates
    ),
    scored AS (
      SELECT tok.doc_id, tok.lang, l.lr
      FROM tok JOIN lrs l USING (bucket)
    )
    SELECT doc_id, lang,
           CAST(SUM(CAST(lr AS DECIMAL(38,6))) AS DOUBLE) AS dsir_logweight_sum,
           COUNT(*) AS n_tokens
    FROM scored GROUP BY doc_id, lang
    """,
    covers=("[EXT]-dsir",),
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR importance weighting (Xie et al. 2023): per-document
    mean log importance ratio ln p_target(b) - ln p_raw(b) over hashed
    token buckets, with add-one smoothing. Target distribution here =
    the English slice (stand-in for "looks like Wikipedia"); raw = the
    whole corpus. Documents with positive weight are the ones
    importance resampling would favor.

    Plan shape mirrors unigram_logprob: one token explode feeds (a)
    the B-row hashed count table (persisted — it also supplies the
    corpus totals, so no second corpus scan) and (b) the scoring join;
    counts and the 1-row totals broadcast, so the corpus never
    shuffles until the per-doc aggregate. The hashed table is B rows
    at ANY corpus size — unlike a vocab join, DSIR's broadcast can
    never outgrow the threshold at 100 TB. Laplace terms are exact
    integer-derived doubles on both engines; the per-doc output is the
    decimal-exact SUM of 6dp-quantized log ratios plus the token count
    (consumers divide) — NOT a rounded mean: sum/count can land
    exactly on a .5e-6 midpoint where Spark HALF_UP and DuckDB
    round-half-even break the tie differently (hit for real at
    sf0.001, doc 143: -0.0114195 → -0.011419 vs -0.01142; same class
    as the text_kn_logprob precedent in CLAUDE.md).
    """
    from pyspark import StorageLevel

    from fegis_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("t")
    ).selectExpr(
        "doc_id", "lang", f"{md5_int_sql('t', 8, spark=True)} % {DSIR_BUCKETS} AS bucket"
    )
    counts = (
        tok.groupBy("bucket")
        .agg(
            F.count("*").alias("rcnt"),
            F.sum((F.col("lang") == "en").cast("int")).alias("tcnt"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = counts.agg(F.sum("rcnt").alias("rtot"), F.sum("tcnt").alias("ttot"))
    b = float(DSIR_BUCKETS)
    # the log ratio is a function of the BUCKET alone, so it collapses
    # onto the B-row table (portable_ln runs 2·B times, not per token)
    # and rides the broadcast; portable_ln (sqlfrag.py) is bit-identical
    # cross-engine, unlike native ln (1 ulp off on ~2.5% of inputs)
    lrs = (
        counts.crossJoin(F.broadcast(tot))  # bcast-ok: 1-row agg
        .select(
            "bucket",
            ((F.col("tcnt") + 1.0) / (F.col("ttot") + b)).alias("pa"),
            ((F.col("rcnt") + 1.0) / (F.col("rtot") + b)).alias("pb"),
        )
        .select(
            "bucket",
            (F.expr(portable_ln("pa", spark=True)) - F.expr(portable_ln("pb", spark=True))).alias("lr"),
        )
    )
    return (
        tok.join(F.broadcast(lrs), "bucket")  # bcast-ok: B-row bucket table
        .select("doc_id", "lang", "lr")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("lr").cast("decimal(38,6)"))
            .cast("double")
            .alias("dsir_logweight_sum"),
            F.count("*").alias("n_tokens"),
        )
    )


#: epoch seed for the deterministic corpus shuffle — changing it is
#: how you get a different (but equally reproducible) epoch order.
EPOCH_SEED = 42


@register(
    "epoch_shuffle",
    oracle=f"""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS pos
    FROM documents
    """,
    covers=("[EXT]-epoch-shuffle", "O1"),
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] deterministic epoch shuffle: every document gets a global
    1-based position in the order md5(seed:doc_id) — the reproducible
    permutation a training run reads the corpus in (no rand(): retries,
    engines, and cluster sizes all agree; a new epoch is a new seed).

    The oracle is a single global row_number; computing that directly
    would funnel 100 TB through one task. Instead: documents hash into
    256 buckets taken from the LEADING two hex chars of the shuffle
    key, so global key order == (bucket, key) order; per-bucket counts
    (256 rows) prefix-sum into bucket base offsets (a window over the
    tiny count table, broadcast back); each document's position is its
    bucket base + its rank inside the bucket — the bucket-partitioned
    window runs 256-way parallel. Same decomposition the curriculum
    export and sharded packer use for single-machine-sort-free global
    order."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(f"{EPOCH_SEED}:"), F.col("doc_id").cast("string"))).alias(
            "k"
        ),
    ).withColumn("bucket", F.substring("k", 1, 2))
    counts = base.groupBy("bucket").agg(F.count("*").alias("n"))
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)  # window-ok: B-row bucket table
    offsets = counts.withColumn(
        "base", F.coalesce(F.sum("n").over(woff), F.lit(0)).cast("long")
    ).select("bucket", "base")
    # panel-ok: 256-bucket radix decomposition — bucket count is the parallelism knob (docstring)
    win = Window.partitionBy("bucket").orderBy("k", "doc_id")
    return (
        base.join(F.broadcast(offsets), "bucket")  # bcast-ok: B-row bucket offsets
        .select(
            "doc_id",
            (F.col("base") + F.row_number().over(win)).alias("pos"),
        )
    )


#: max documents kept per source. Tiny on the test corpus (500 docs /
#: 20 sources) so the cap actually binds; production values are 10^5+.
SOURCE_CAP = 10


# [EXT] per-source document cap (the domain-cap step of
# CCNet/RefinedWeb-style curation): keep at most SOURCE_CAP
# documents per source, preferring longer documents, doc_id as the
# total-order tiebreak. One shuffle on source. At 100 TB this is
# exactly the per-domain cap pass, and a skewed source (one domain =
# half the crawl) is the norm: the guard is Spark's WindowGroupLimit
# pushdown — the rank filter runs as a partial per-map top-k BEFORE
# the exchange, so a hot source ships at most cap rows per map task
# into the shuffle, not its full row set. (AQE skew-split does NOT
# apply — it cannot split window partitions.) The pushdown is pinned
# in tests/test_plans.py for the whole rank-filter family.
register_sql(
    "source_cap_sample",
    f"""
    SELECT source, doc_id, n_chars, rk
    FROM (
      SELECT source, doc_id, n_chars,
             -- grpwin-ok: source (domain) cardinality scales with the corpus
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM {{documents}}
    )
    WHERE rk <= {SOURCE_CAP}
    """,
    covers=("[EXT]-source-caps", "§2.5-topk"),
)


#: exact-k weighted-without-replacement sample size.
WOR_K = 50


@register(
    "weighted_sample_wor",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             ({md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} + 0.5)
               / 4294967296.0 AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, lang, n_chars,
             {portable_ln('u')} / n_chars AS race_key
      FROM u
    )
    SELECT doc_id, lang, n_chars, race_key
    FROM keyed
    ORDER BY race_key DESC, doc_id
    LIMIT {WOR_K}
    """,
    covers=("[EXT]-sample-wor", "O3"),
)
def weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact-k weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006, the exponential-race form): each document draws a
    deterministic uniform u from its md5 (no RNG — retries and engines
    agree), races with key ln(u)/w for weight w = n_chars, and the k
    largest keys win — inclusion probability proportional to weight,
    exactly k rows, single pass. This is THE distributed weighted
    sampler: no sequential draw-and-remove, and at 100 TB the top-k is
    a TakeOrderedAndProject (per-partition heaps, k-row driver merge),
    never a global sort. Complements quality_weighted_sample
    (independent Bernoulli thinning — random output size, with
    replacement across epochs). The race key uses portable_ln
    (sqlfrag.py), which is bit-identical across engines by
    construction — the pre-r8 round(key, 12) mitigation for native
    ln()'s 1-ulp divergence is no longer needed; the key is emitted
    unrounded and doc_id totalizes."""
    docs = load_table(spark, sf_dir, "documents")
    u = (F.expr(md5_int_sql("CAST(doc_id AS STRING)", 8, spark=True)) + 0.5) / F.lit(
        4294967296.0
    )
    keyed = docs.select("doc_id", "lang", "n_chars", u.alias("u")).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.expr(portable_ln("u", spark=True)) / F.col("n_chars")).alias("race_key"),
    )
    return keyed.orderBy(F.col("race_key").desc(), F.col("doc_id")).limit(WOR_K)
