"""Deduplication operators for training-data pipelines ([EXT], K9).

Every tier is a declarative plan (no Python in the hot path; every
hash is JVM-side xxhash64/md5):

* exact        — md5 over normalized text; one shuffle on the hash.
* minhash_lsh  — shingle → MINHASH_HASHES minhashes → MINHASH_BANDS
  bands; candidate pairs come from band buckets (bucket_pairs, never a
  cross product), then exact shingle-Jaccard verification on
  candidates only. The standard near-dup layout at 100 TB: shuffle
  volume = |bands| rows/doc.
* simhash      — sign-aggregated token-hash fingerprint; near-dups =
  equal band + hamming<=threshold on candidates.
* ngram_jaccard — exact pairwise Jaccard inside small blocks
  (lang, source) — the brute-force verifier, oracle-checkable.
* embedding near-dup — cosine >= threshold pairs; brute force within
  blocks here, LSH (operators/knn.py) or SRP codes at scale; SemDeDup
  clusters first.
* incremental  — new batch × indexed corpus only (bloom prefilter for
  exact hashes, corpus-band × batch-band join for MinHash).

Hash families: MinHash and SimHash each have ONE implementation, and
their ``portable`` argument only picks how the hashes are spelled.
xxhash64 (portable=False) is the fast family, but only Spark computes
it, so its catalog queries are rows-only at the oracle gate. md5-60
(portable=True: the first 15 md5 hex chars as a bigint) is one DuckDB
replays value for value, so those catalog queries are oracle-checked
end to end.

Determinism: all hashes are seeded constants; candidate pairs are
ordered (a < b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fegis_spark.functions.vector import (
    cosine,
    int_dot_sql,
    int_quant_sql,
    md5_signs,
)
from fegis_spark.queries.sqlfrag import md5_int_sql, norm_text_sql, tokens_sql


def tokens(c: str) -> Column:
    """The Column form of sqlfrag.tokens_sql over text expression `c`."""
    return F.expr(tokens_sql(c, spark=True))


#: MinHash geometry, decided here only: MINHASH_HASHES per-seed
#: minhashes over distinct token SHINGLE_N-gram shingles, cut into
#: MINHASH_BANDS bands of MINHASH_HASHES // MINHASH_BANDS rows. The
#: DuckDB oracle CTE (queries/dedup._mh_pipeline_cte) is generated from
#: these, so both engines build the same sketch.
MINHASH_HASHES = 16
MINHASH_BANDS = 4
SHINGLE_N = 3

#: SimHash geometry: SIMHASH_BANDS equal bands over a sketch as wide as
#: the token hash — SIMHASH_BITS for xxhash64 (16-bit bands),
#: SIMHASH_BITS_PORTABLE for md5-60 (15-bit bands). Either way a pair
#: within hamming 3 shares a band (pigeonhole).
SIMHASH_BANDS = 4
SIMHASH_BITS = 64
SIMHASH_BITS_PORTABLE = 60


def _shingle_tokens(text_col: str) -> Column:
    """NGram input column `tok`: the tokens of `text_col`, empty (not
    NULL) for NULL text. NGram throws on a NULL array, and a null
    filter in front of it is no guard: codegen CSE may run the NGram
    call before the filter's null check."""
    return tokens(f"coalesce({text_col}, '')").alias("tok")


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N, out: str = "sh"
) -> DataFrame:
    """(id, distinct token n-grams) via pyspark.ml.feature.NGram.

    NGram is Scala-implemented and ~15x faster than the equivalent
    higher-order transform/slice/concat expression chain (HOFs are
    interpreted per element, not codegen'd — measured 5.7s vs 0.36s on
    5k docs), so every data path shingles through here. Documents with
    fewer than n tokens or NULL text have no shingles and are dropped."""
    from pyspark.ml.feature import NGram

    base = df.select(F.col(id_col).alias("doc"), _shingle_tokens(text_col))
    ng = NGram(n=n, inputCol="tok", outputCol="__sh")
    return (
        ng.transform(base)
        .select("doc", F.array_distinct("__sh").alias(out))
        .filter(F.size(out) > 0)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """K9 exact tier: group by md5(normalized text); keeper = min id.

    Output: one row per distinct content (keeper_id, n_copies, hash).
    """
    h = F.expr(f"md5({norm_text_sql(text_col, spark=True)})").alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def _not_null(cols) -> str:
    return " AND ".join(f"`{c}` IS NOT NULL" for c in cols)


def band_bucket_stats(
    banded: DataFrame, keys: tuple[str, ...] = ("band", "bh"), doc: str = "doc"
) -> DataFrame:
    """Membership stats per bucket (the rows agreeing on all `keys`):
    bucket_size and the min-id representative. This is the audit
    surface for bucket_pairs' max_bucket_size cap (the no-silent-caps
    rule): run it on the emitter's input with the same keys to list
    exactly which buckets were star-routed (`bucket_size > cap`) and
    how many members each dropped from pairwise candidacy. Rows with a
    NULL key or doc are dropped, as in the emitter: they pair with
    nothing."""
    return (
        banded.filter(_not_null([doc, *keys]))
        .groupBy(*keys)
        .agg(F.count("*").alias("bucket_size"), F.min(doc).alias("rep"))
    )


def bucket_pairs(
    frame: DataFrame,
    keys: tuple[str, ...],
    payload: tuple[str, ...] = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """THE bucket-pair emitter: every pair of docs in `frame` (column
    `doc`) that agree on all `keys`, as (a, b, <c>_a, <c>_b per payload
    column c) with a < b, keeping multiplicity: one row per bucket the
    pair shares (and per repeated row of a doc). Callers that want
    candidates apply distinct; counting callers like
    winnow_match_pairs need the rows. Every LSH band, fingerprint and
    shingle self-join in the library goes through here.

    max_bucket_size=None is the plain equi-self-join: a bucket with m
    members emits m(m-1)/2 pairs. That is the one quadratic OUTPUT in
    the LSH family — on a boilerplate-heavy 100 TB corpus a single
    templated page class can put 1e5+ docs into one bucket, i.e. 5e9
    pairs out of one join key; AQE skew-split redistributes the
    partition but cannot shrink the output. With a cap:

    * buckets with <= cap members emit all their pairs, exactly as the
      join would;
    * over-cap buckets emit STAR pairs to their min-doc representative
      (<c>_a carries the representative's payload) — m-1 candidates
      instead of m(m-1)/2.

    The capped route is ONE groupBy(keys) exchange: each bucket folds
    to sort_array(collect_list(struct(doc, *payload))) and its pairs
    come from one projection, map-side after the shuffle. Keep it one
    consumer of `frame`: a window + self-join + star-union shape runs
    the upstream sketch once per consumer (AQE gets no ReusedExchange
    for it). Per-bucket state is bounded: the all-pairs array fires
    only at m <= cap. The HOF projection is interpreted, but runs once
    per bucket over candidate-bounded output.

    Both routes agree on degenerate input by construction: rows with a
    NULL key or NULL doc pair with nothing, and a < b is the join
    condition on one route and a filter on every emitted row on the
    other (the star lambda also keeps only x.doc > ds[0].doc), so no
    self-pair leaves the emitter even when a doc id repeats in a
    bucket.

    Every candidate still flows through the caller's exact
    verification, so a cap leaves precision unchanged. Its recall loss
    is confined to over-cap buckets: a member pair that is near-dup
    while NEITHER member matches the representative is missed in THAT
    bucket (other bands can still recover it; over-cap buckets are
    overwhelmingly exact-template clusters where every member matches
    the rep). Capped buckets are observable — not silent — via
    band_bucket_stats(frame, keys).filter(bucket_size > cap).
    """
    live = frame.filter(_not_null(["doc", *keys]))
    if max_bucket_size is None:
        # band-ok: uncapped only when the caller declares its keyspace
        # bound at the call site (broadcast_audit PAIR_GENERATORS rule)
        l, r = live.alias("l"), live.alias("r")
        cond = F.col("l.doc") < F.col("r.doc")
        for k in keys:
            cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
        return l.join(r, cond).select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in payload],
        )

    def fields(x: str, y: str) -> str:
        return (
            f"'a', {x}.doc, 'b', {y}.doc"
            + "".join(f", '{c}_a', {x}.{c}" for c in payload)
            + "".join(f", '{c}_b', {y}.{c}" for c in payload)
        )

    struct_fields = "'doc', doc" + "".join(f", '{c}', {c}" for c in payload)
    g = live.groupBy(*keys).agg(
        F.expr(
            f"sort_array(collect_list(named_struct({struct_fields})))"
        ).alias("ds"),
        F.count("*").alias("m"),
    )
    pairs_expr = (
        f"CASE WHEN m <= {max_bucket_size} THEN "
        "flatten(transform(ds, (x, i) -> "
        f"transform(slice(ds, i + 2, m), y -> named_struct({fields('x', 'y')})))) "
        "ELSE transform(filter(ds, x -> x.doc > ds[0].doc), "
        f"x -> named_struct({fields('ds[0]', 'x')})) "
        "END AS ps"
    )
    # the a < b guard on emitted rows is a codegen'd Filter: as a filter
    # lambda inside the all-pairs transform it cost an interpreted call
    # per bucket member (+4-8% on the emission stage, 4 cores)
    return (
        g.selectExpr(pairs_expr)
        .selectExpr("explode(ps) AS p")
        .filter("p.a < p.b")
        .selectExpr("p.*")
    )


def banded_candidate_pairs(
    banded: DataFrame,
    payload: tuple[str, ...] = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding (doc, band, bh[, *payload]) → distinct ordered
    candidate pairs (a, b) with a < b, carrying `payload` columns as
    `<col>_a` / `<col>_b`: bucket_pairs on (band, bh), deduplicated
    across bands. See bucket_pairs for the max_bucket_size semantics."""
    # band-ok: cap-routed — callers either pass max_bucket_size or
    # declare their keyspace bound at the call site (broadcast_audit)
    return bucket_pairs(banded, ("band", "bh"), payload, max_bucket_size).distinct()


def keep_best_dedup(
    df: DataFrame, hash_col: str, id_col: str, q_col: str
) -> DataFrame:
    """K9 keeper-policy agg: within each duplicate cluster (same
    hash_col) keep the highest-quality copy, ties → lowest id. One
    hash-agg shuffle, no join-back. The tiebreak key is
    max_by(id, struct(q, -id)): struct ordering compares field-wise and
    keeps the id a bigint end-to-end — an array key would force id
    through double and lose exactness above 2^53, making the keeper
    among near-adjacent ids nondeterministic at 100 TB id ranges.

    Output: (hash_col, keeper_id, n_copies, keeper_q) for clusters with
    n_copies > 1; keeper_q rounded to 6 dp (oracle determinism rule).
    """
    return (
        df.groupBy(hash_col)
        .agg(
            F.max_by(
                id_col,
                F.struct(F.col(q_col).alias("q"), (-F.col(id_col)).alias("nid")),
            ).alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.round(F.max(q_col), 6).alias("keeper_q"),
        )
        .filter(F.col("n_copies") > 1)
    )


def minhash_sig_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    portable: bool,
    seed_bcast_bound: int | None = None,
):
    """THE MinHash sketch builder (geometry: MINHASH_* / SHINGLE_N).
    Returns three tables:

    * ``base`` (doc, sh): distinct shingles, persisted MEMORY_AND_DISK —
      it feeds the signature build AND the verify joins. The entry
      outlives the call (the returned plans reference it) until LRU
      eviction or spark.catalog.clearCache(), the repo-wide
      cache-ownership policy; at warehouse scale you would materialize
      signatures to a table instead;
    * ``sig`` (doc, mh0..mh{k-1}): the per-seed min signature (the
      estimator-audit query consumes it as an array);
    * ``banded`` (doc, band, bh): one band hash per band.

    ``portable`` only picks how three hashes are spelled — the gram
    hash, the per-seed hash and the band hash: xxhash64 (the gram
    string hashed once, the k seeds re-hash that 8-byte base; measured
    ~1.4x over per-seed string hashes at sf0.1) or md5-60 (md5_int_sql; seeds
    hash "gh-i", bands are md5 hex strings), the family DuckDB replays.
    Either family is a pure function of the text, so sketches computed
    in separate calls (corpus and batch sides of the incremental form,
    streaming state) are mutually consistent. The signature is explode
    + codegen'd hashes + min-agg (the HOF transform/array_min form is
    interpreted and ~10x slower), spelled as single parsed strings (the
    Column-chain form of the seed aggregates and band structs cost
    ~0.3-0.5 s of py4j round-trips per plan build).

    seed_bcast_bound: the per-seed hashes are pure functions of gh,
    and the gram stream repeats each distinct gram ~10x at sf0.1 (260k
    instances / 27k distinct; duplicate-heavy corpora are the whole
    point of this operator). With a bound, the seeds are hashed once
    per DISTINCT gh and attached by an equi-join instead of per gram
    INSTANCE (md5-60: profiled 12 us/row, ~3.2 s of the 4.6 s sf0.1
    wall; values bit-identical by construction). Under the bound the
    seeds table broadcasts (ex stays doc-local, so the doc partial-agg
    still collapses map-side); over it the hint is withheld and AQE
    picks from real sizes — the SMJ fallback trades one narrow gh
    exchange of the gram stream for 15/16 of the seed-hash CPU.
    Callers with an sf_dir pass ``32 * table_bytes(sf_dir,
    "documents")``: the seeds projection is ~136 B per DISTINCT gram vs
    >= ~5 compressed source bytes per gram INSTANCE, so 32x source
    bytes upper-bounds it even at dedup ratio 1. None (tiny-side
    callers: streaming batch probes; dedup_minhash_lsh) keeps the
    inline per-instance form — on a few-doc batch the extra
    distinct+join stages cost more latency than the hashes they save.
    """
    from pyspark import StorageLevel

    if portable:
        gram_h, band_h = md5_int_sql("g", 15, spark=True), "md5"

        def seed_h(i: int) -> str:
            return md5_int_sql(f"concat(CAST(gh AS STRING), '-{i}')", 15, spark=True)
    else:
        gram_h, band_h = "xxhash64(g)", "xxhash64"

        def seed_h(i: int) -> str:
            return f"xxhash64(gh, {i})"

    base = with_shingles(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    ex = base.select("doc", F.explode("sh").alias("g")).selectExpr(
        "doc", f"{gram_h} AS gh"
    )
    if seed_bcast_bound is not None:
        from fegis_spark.model import maybe_broadcast

        seeds = ex.select("gh").distinct().selectExpr(
            "gh", *[f"{seed_h(i)} AS __s{i}" for i in range(MINHASH_HASHES)]
        )
        sig = (
            ex.join(maybe_broadcast(seeds, seed_bcast_bound), "gh")
            .groupBy("doc")
            .agg(*[F.min(f"__s{i}").alias(f"mh{i}") for i in range(MINHASH_HASHES)])
        )
    else:
        sig = ex.groupBy("doc").agg(
            *[
                F.expr(f"min({seed_h(i)})").alias(f"mh{i}")
                for i in range(MINHASH_HASHES)
            ]
        )
    rows = MINHASH_HASHES // MINHASH_BANDS
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bh', {h}(concat_ws(',', {cols})))".format(
            b=b,
            h=band_h,
            cols=", ".join(f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)),
        )
        for b in range(MINHASH_BANDS)
    )
    banded = sig.selectExpr(
        "doc", f"explode(array({band_structs})) AS b"
    ).selectExpr("doc", "b.band AS band", "b.bh AS bh")
    return base, sig, banded


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 512,
    portable: bool = False,
    seed_bcast_bound: int | None = None,
    sh_bcast_bound: int | None = None,
) -> DataFrame:
    """K9 MinHash+LSH near-dup pairs (a, b, jaccard >= threshold).

    Plan: minhash_sig_bands (shingle → signature → one hash per band)
    → banded_candidate_pairs (band buckets, distinct across bands) →
    minhash_verify_pairs (exact Jaccard on the candidates only; its
    sh_bcast_bound is the broadcast gate of the two attach joins).
    Every join is an equi-join; the band explode multiplies rows by
    the band count, not by |corpus|.

    portable picks the hash family (module doc): keep xxhash64 on the
    100 TB data path and md5-60 as the cross-engine verification
    surface; seed_bcast_bound is minhash_sig_bands'.

    max_bucket_size caps the per-bucket candidate output (hot template
    buckets would otherwise emit m²/2 pairs): over-cap buckets route
    through their min-doc representative — see bucket_pairs for the
    exact semantics and band_bucket_stats for the audit surface. None
    disables the cap; the oracle-checked uncapped queries pass it so
    DuckDB replays the candidate set exactly.
    """
    base, _sig, banded = minhash_sig_bands(
        df, text_col, id_col, portable, seed_bcast_bound
    )
    cand = banded_candidate_pairs(banded, max_bucket_size=max_bucket_size)
    return minhash_verify_pairs(
        cand, base.select("doc", "sh"), jaccard_threshold,
        sh_bcast_bound=sh_bcast_bound,
    )


def minhash_verify_pairs(
    cand: DataFrame,
    sh: DataFrame,
    jaccard_threshold: float = 0.5,
    sh_bcast_bound: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (a, b) against a
    shingle table (doc, sh) — the tail of minhash_lsh_pairs, factored
    out (r13) so callers holding PRECOMPUTED bands/shingles (the
    streaming near-dup body) generate within-set pairs without
    recomputing signatures. Output: (a, b, jaccard) at >= threshold. Shingle arrays must hold distinct values
    (with_shingles applies array_distinct): |a∪b| is computed as
    |a| + |b| − |a∩b|.

    sh_bcast_bound (r15 opt, guide §3.1/§2.4): byte bound for a
    size-gated broadcast of the shingle table into the two attach
    joins — under the gate the candidate-pair table stops being
    shuffled twice (once per attach key) and both joins become
    broadcast hash joins over the persisted shingle cache; over the
    gate (corpus-proportional at real scale) the hint is withheld and
    AQE decides. Callers with an sf_dir pass
    ``32 * table_bytes(sf_dir, "documents")`` — the distinct-shingle
    arrays are ~20 B per gram INSTANCE upper bound vs >= ~5 compressed
    source bytes per instance, so 32x source parquet bytes bounds the
    exploded array representation honestly. None keeps the plain
    shuffle joins."""
    if sh_bcast_bound is not None:
        from fegis_spark.model import maybe_broadcast

        sh = maybe_broadcast(sh, sh_bcast_bound)
    return (
        cand.join(sh.select(F.col("doc").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col("doc").alias("b"), F.col("sh").alias("sh_b")), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / (
                F.size("sh_a") + F.size("sh_b")
                - F.size(F.array_intersect("sh_a", "sh_b"))
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 512,
    portable: bool = False,
) -> DataFrame:
    """K9 SimHash near-dup pairs (a, b, hamming <= max_hamming): a
    sign-aggregated token-hash sketch, blocked on SIMHASH_BANDS equal
    bands (any pair within hamming 3 shares >= 1 exact band by
    pigeonhole; wider distances trade recall), verified with
    bit_count(xor). portable picks the token hash and with it the
    sketch width: 64-bit xxhash64 or 60-bit md5-60 (module doc).
    max_bucket_size routes hot band buckets through a min-doc
    representative (see bucket_pairs); None disables.

    Plan: explode tokens + one codegen'd bit-counter aggregate per
    sketch bit (one shuffle on doc), band equi-join, candidate-only
    verify."""
    bits = SIMHASH_BITS_PORTABLE if portable else SIMHASH_BITS
    width = bits // SIMHASH_BANDS
    ex = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t")
    )
    h = F.expr(md5_int_sql("t", 15, spark=True)) if portable else F.xxhash64("t")
    counters = ex.groupBy("doc").agg(
        *[
            F.sum((F.shiftright(h, b).bitwiseAND(1) * 2 - 1).cast("long")).alias(f"c{b}")
            for b in range(bits)
        ]
    )
    sim = sum(
        [
            F.when(F.col(f"c{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    sh = counters.select("doc", sim.alias("sim"))
    bands = sh.select(
        "doc",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sim"), width * b)
                        .bitwiseAND((1 << width) - 1)
                        .alias("bh"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc", "sim", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    cand = banded_candidate_pairs(
        bands, payload=("sim",), max_bucket_size=max_bucket_size
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    ngram: int = SHINGLE_N,
    threshold: float = 0.2,
    payload_cols: tuple[str, ...] = (),
    shingle_base: DataFrame | None = None,
) -> DataFrame:
    """K9 exact n-gram Jaccard within blocks: explode distinct shingles,
    equi-join on (block, shingle), count intersections, Jaccard from
    the inclusion-exclusion sizes. Fully oracle-checkable; the blocked
    self-join is quadratic only within a block. ``payload_cols``
    (r11) carries extra per-doc columns through to the pair output as
    a_<col>/b_<col> — consumers like split_leakage_neardup tag pairs
    without a join back to the corpus.

    ``shingle_base`` (r15 opt, guide §1.2 "don't compute twice"):
    callers that already hold the (doc, sh) distinct-shingle table for
    the SAME (df, text_col, id_col, ngram) — e.g. dedup_minhash_eval,
    whose prediction side persists it via minhash_sig_bands — pass
    it here so the tokenize+NGram corpus pass is not rebuilt for the
    truth side. Only valid with empty block_cols/payload_cols (the
    precomputed table carries no extra columns); the shingle family
    must match with_shingles(df, text_col, id_col, ngram) exactly or
    the Jaccard values change."""
    from pyspark.ml.feature import NGram

    extra = [c for c in payload_cols if c not in block_cols]
    carry = list(block_cols) + extra
    if shingle_base is not None:
        assert not carry, "shingle_base requires empty block/payload cols"
        base = shingle_base.select(
            "doc", "sh", F.size("sh").alias("n_sh")
        ).filter(F.col("n_sh") > 0)
    else:
        base0 = df.select(
            F.col(id_col).alias("doc"),
            *[F.col(c) for c in block_cols],
            *[F.col(c) for c in extra],
            _shingle_tokens(text_col),
        )
        base = (
            NGram(n=ngram, inputCol="tok", outputCol="__sh")
            .transform(base0)
            .select("doc", *carry, F.array_distinct("__sh").alias("sh"))
            .withColumn("n_sh", F.size("sh"))
            .filter(F.col("n_sh") > 0)
        )
    ex = base.select("doc", *carry, "n_sh", F.explode("sh").alias("g"))
    # band-ok: unbounded shingle keyspace (no fixed band space to
    # saturate); hot-gram skew is AQE skew-split territory
    # (evidence/skew_smj_r7.json) and distinct-gram collapse bounds
    # the boilerplate long tail upstream
    pairs = bucket_pairs(ex, ("g", *block_cols), ("n_sh", *payload_cols))
    inter = pairs.groupBy(
        "a",
        "b",
        F.col("n_sh_a").alias("na"),
        F.col("n_sh_b").alias("nb"),
        *[
            F.col(f"{c}_{side}").alias(f"{side}_{c}")
            for c in payload_cols
            for side in ("a", "b")
        ],
    ).agg(F.count("*").alias("inter"))
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a", "b", F.round("jaccard", 6).alias("jaccard"),
            *[f"a_{c}" for c in payload_cols],
            *[f"b_{c}" for c in payload_cols],
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.9,
) -> DataFrame:
    """K9 embedding-cosine near-dup pairs (a<b, cosine>=t). Brute-force
    within blocks; at corpus scale swap candidate generation for
    knn.knn_join_lsh and keep this as the verifier."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = df.select(*cols)
    # band-ok: declared correctness-tier brute force within caller
    # blocks (docstring); the scale path is embedding_neardup_pairs_lsh
    l, r = base.alias("l"), base.alias("r")
    cond = F.col("l.id") < F.col("r.id")
    if block_col:
        cond = cond & (F.col("l.blk") == F.col("r.blk"))
    return (
        l.join(r, cond)
        .withColumn("score", cosine(F.col("l.v"), F.col("r.v")))
        .filter(F.col("score") >= threshold)
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.round("score", 6).alias("score"),
        )
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    bucket_length: float = 4.0,
    num_hash_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """K9 embedding near-dup with LSH-BLOCKED candidate generation —
    the scale path embedding_neardup_pairs' docstring declares. Same
    output contract: (a, b, score) with a < b and cosine >= threshold,
    score computed exactly on the RAW vectors (identical values to the
    brute-force path, so the same DuckDB oracle checks it).

    Candidates: L2-normalize (Scala Normalizer), then MLlib
    BucketedRandomProjectionLSH approxSimilarityJoin against itself at
    radius sqrt(2 - 2·threshold) — on unit vectors ||a-b||² = 2-2cosθ,
    so the Euclidean ball is exactly the cosine cap. Pairs come from
    colliding hash buckets (equi-join per hash table); exact cosine
    then re-verifies every candidate, so precision is exact and the
    only approximation is LSH recall.

    SCALE HONESTY (r11, evidence/brp_occupancy_r11.json): a unit
    vector's projection onto a random unit hyperplane has std
    1/sqrt(dim) ≈ 0.125 at dim 64, so the default bucket_length=4
    puts ~51% of the corpus into ONE bucket per table (floor splits at
    zero) — the bucket equi-join intermediate is ~n²/2 per table, i.e.
    brute force routed through a join, NOT linear candidate
    generation. That is the deliberate recall-conservative setting:
    the DuckDB oracle demands exact equality with brute force, and any
    missed pair is a hash-FAIL, so this query is a CORRECTNESS-TIER
    twin. At scale, bucket_length must drop toward σ/2 ≈ 1/(2·sqrt(dim))
    for real bucketing (accepting LSH recall < 1), or — the repo's
    declared ANN scale paths — use IVF (measured recall 0.956 at 2.35×
    over brute force) or the capped SRP family. Hyperplanes are
    seed-deterministic; the shuffle is |corpus|·num_hash_tables rows
    even when the join output is not linear.

    PLAN (r14 optimization): the hash family, bucket assignment and
    therefore the CANDIDATE SET are exactly MLlib's (model.transform
    emits the same hashes approxSimilarityJoin joins on), but the pair
    join itself is re-expressed natively: explode to one NARROW
    (id, table, bucket) row per hash, equi-join on (table, bucket)
    carrying only ids, distinct, then re-attach vectors and verify
    with per-side precomputed norms + one HOF dot per pair
    (cosine_from_parts_sql — bit-identical). approxSimilarityJoin
    shuffles the full row struct (raw vector + features + 12 hash
    vectors, ~1 KB) through the bucket join and runs its keyDistance
    as a non-codegen Vector UDF per candidate — measured 405 s at
    sf0.1 vs ~20 s for this shape (guide §2.3 'shuffle keys instead
    of payloads', §8). The radius prefilter is dropped: it passes
    every pair with cosine >= threshold - 1e-6-ish by construction
    (||â-b̂||² = 2-2cosθ with 1e-6 slack), so the exact
    cosine >= threshold filter alone selects the identical row set.

    Multi-consumer persists (ADVICE r14): `hashed` feeds both sides of
    the bucket self-join (the MLlib hash-projection UDF subtree would
    otherwise execute twice — the two sides exchange on the same key
    but canonicalization across the Vector-UDF projection is not
    guaranteed to fire ReusedExchange), and `sides` feeds the a- and
    b-verify joins whose exchanges key differently (no reuse possible)
    — both persisted MEMORY_AND_DISK per the repo convention."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    feat = Normalizer(inputCol="__raw", outputCol="features", p=2.0).transform(
        base.withColumn("__raw", array_to_vector("v"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    # one narrow row per (id, hash table, bucket): ids + 2 small ints
    # cross the bucket join instead of ~1 KB vector payloads
    from pyspark import StorageLevel

    hashed = (
        model.transform(feat)
        .select("id", F.posexplode("hashes").alias("t", "__hv"))
        .select(
            F.col("id").alias("doc"),
            "t",
            vector_to_array("__hv").getItem(0).cast("bigint").alias("bkt"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # band-ok: declared correctness-tier — same candidate set as the
    # recall-conservative MLlib BRP bucket join this re-expresses
    # (~brute force via the giant bucket, evidence/brp_occupancy_r11);
    # scale paths are IVF / capped SRP (docstring above)
    cand = bucket_pairs(hashed, ("t", "bkt")).distinct()
    # norms once per vector (value identical to folding them per pair;
    # HOF fold spelling — the unrolled form measured 2x the CPU, r14)
    sides = base.select(
        "id", "v", F.expr(norm_sql("v")).alias("nrm")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return (
        cand.join(
            sides.select(
                F.col("id").alias("a"),
                F.col("v").alias("__va"),
                F.col("nrm").alias("__na"),
            ),
            "a",
        )
        .join(
            sides.select(
                F.col("id").alias("b"),
                F.col("v").alias("__vb"),
                F.col("nrm").alias("__nb"),
            ),
            "b",
        )
        .withColumn(
            "score",
            F.expr(
                cosine_from_parts_sql(
                    dot_sql("__va", "__vb"), "__na", "__nb"
                )
            ),
        )
        .filter(F.col("score") >= threshold)
        .select("a", "b", F.round("score", 6).alias("score"))
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int = 64,
    n_lists: int = 16,
    tau: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then within each cluster
    drop the member of every high-cosine pair that sits CLOSER to the
    cluster centroid — keeping the outliers preserves diversity, which
    is the paper's headline result over random keep. Reference parity:
    the reference has no semantic dedup (its nearest surface is K1
    cosine search, /root/reference/fegis/strategies.py:262-272); this
    is a first-class [EXT] training-data-pipeline operator.

    Clustering reuses the portable-IVF routing machinery
    (operators/knn.ivfp_dots / first_arg_sql): md5-derived literal ±1
    centroids and exact-integer quantized dot products, so assignment
    is an exact-integer argmax on any engine and the whole decision
    procedure — clusters, pair candidacy, and keep/drop choice — is
    value-checkable against a DuckDB oracle. centroid_sim is the
    cosine to the assigned centroid scaled by the constant sqrt(dim)
    (±1 centroids all share that norm, so the scale cannot change any
    comparison); it is qdot/|q| over exact integers, hence IEEE-
    bit-identical cross-engine, with a nullif(|q|, 0) guard for
    zero vectors on both sides (CLAUDE.md ANSI-divide rule).

    Returns (vec_id, list_id, centroid_sim, is_dup): is_dup marks the
    higher-centroid_sim member (tie: higher id) of every within-
    cluster pair with exact cosine >= tau. Keepers = is_dup false.

    100 TB posture: the only shuffles are the list_id equi-self-join
    and one distinct over dropped ids. Per-cluster pair work is
    O(sum c_i^2) — SemDeDup's own scaling answer applies: n_lists
    grows with the corpus (clusters stay ~constant-sized), and the
    paper runs 50k clusters over LAION-440M. Skewed clusters are an
    AQE skew-join shape; for adversarial skew route over-cap clusters
    through the representative star of bucket_pairs' max_bucket_size.
    """
    from pyspark import StorageLevel

    from fegis_spark.operators.knn import first_arg_sql, ivfp_dots

    q = int_quant_sql(vec_col, True)
    qnorm = f"sqrt(CAST({int_dot_sql(q, q, True)} AS DOUBLE))"
    base = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("__v"),
            F.expr(ivfp_dots(vec_col, dim, n_lists)).alias("__dots"),
            F.expr(qnorm).alias("__qn"),
        )
        .select(
            "vec_id",
            "__v",
            F.expr(first_arg_sql("__dots", True)).alias("list_id"),
            (
                F.expr("CAST(array_max(__dots) AS DOUBLE)")
                / F.expr("nullif(__qn, 0.0)")
            ).alias("__csim"),
        )
        # three consumers (both sides of the pair join + the verdict
        # join) would each re-scan the corpus and re-fold the 16x64
        # routing dots — persist per the repo multi-consumer rule
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _semdedup_verdicts(base, tau)


def _semdedup_verdicts(base: DataFrame, tau: float) -> DataFrame:
    """The SemDeDup keep-the-outlier verdict algebra over an assigned
    corpus: ``base`` = (vec_id, __v, list_id, __csim), persisted by the
    caller (three consumers). Within each list, every exact-cosine >=
    tau pair drops its higher-centroid-sim member (tie: higher id).
    Shared verbatim by the md5-literal routing (semantic_dedup, the
    DuckDB-oracle-checked twin) and the trained-centroid route
    (semantic_dedup_trained) — one rule, two assigners.

    r14: the quadratic pair verify precomputes each vector's norm
    ONCE on the cluster-join input and recombines per pair
    (cosine_from_parts_sql over the HOF dot) — bit-identical to
    cosine() (pinned in tests/test_search.py), measured 1.8x less
    JVM CPU per pair at dim 64 (evidence/cosine_codegen_ab_r14.json)."""
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        dot_sql,
        norm_sql,
    )

    # norm once per row (cluster-join input), not once per pair
    base = base.withColumn("__nrm", F.expr(norm_sql("__v")))
    verify = (
        F.expr(
            cosine_from_parts_sql(
                dot_sql("__v_a", "__v_b"), "__nrm_a", "__nrm_b"
            )
        )
        >= tau
    )
    # band-ok: list_id equi-join, cluster size ~ n/n_lists — the
    # SemDeDup contract scales n_lists with the corpus (k ~ sqrt(n))
    # so per-cluster pair output stays bounded
    pairs = bucket_pairs(
        base.select(F.col("vec_id").alias("doc"), "list_id", "__v", "__nrm", "__csim"),
        ("list_id",),
        ("__v", "__nrm", "__csim"),
    )
    lc, rc = F.col("__csim_a"), F.col("__csim_b")
    li, ri = F.col("a"), F.col("b")
    dropped = (
        pairs.filter(verify)
        .select(
            F.when((lc > rc) | ((lc == rc) & (li > ri)), li)
            .otherwise(ri)
            .alias("vec_id")
        )
        .distinct()
        .withColumn("__d", F.lit(True))
    )
    return base.join(dropped, "vec_id", "left").select(
        "vec_id",
        "list_id",
        F.round("__csim", 6).alias("centroid_sim"),
        F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"),
    )


def semantic_dedup_trained(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int,
    tau: float = 0.35,
    kmeans_iters: int = 10,
    distributed: bool | None = None,
) -> DataFrame:
    """SemDeDup with TRAINED centroids — the production scaling route
    the fixed-literal twin documents but cannot follow: SemDeDup's own
    answer to corpus growth is MORE clusters (50k at LAION-440M), and
    past ~64 lists the md5-literal routing expression (n_lists inlined
    dot folds per row) stops being a sane plan. Centroids come from
    operators/knn._train_centroids (seeded spherical k-means on a
    bounded sample below 64 lists, seeded MLlib k-means|| over the full
    corpus above — nothing corpus-sized ever reaches the driver);
    assignment is knn._nearest_lists (the one IVF assigner: ONE
    broadcast join + per-row top-1); the keep-the-outlier verdict
    algebra is _semdedup_verdicts, shared verbatim with the
    oracle-checked twin. Deterministic given
    the seed, but float k-means is not SQL-replayable, so the
    correctness tier is the shared-verdict library tests + the
    dedup_semantic oracle on the routing twin; scaling evidence:
    evidence/semdedup_scaling_r14.json (fixed n_lists grows wall
    ~quadratically under replication, scaled n_lists tracks the
    corpus)."""
    from pyspark import StorageLevel

    from fegis_spark.operators.knn import _centroid_frame, _nearest_lists

    cent_df = _centroid_frame(
        df, id_col, vec_col, n_lists, kmeans_iters, distributed
    )
    base = (
        _nearest_lists(
            df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
            cent_df,
            "__v",
            "vec_id",
            1,
        )
        .select("vec_id", "__v", "list_id", F.col("__sim").alias("__csim"))
        # three consumers (both pair-join sides + the verdict join)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _semdedup_verdicts(base, tau)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD backing a localCheckpoint'ed DataFrame.

    DataFrame.unpersist() only uncaches CacheManager entries, not
    checkpoint RDDs, so iterative algorithms would otherwise hold every
    round's blocks until session end. Only call this after every
    downstream consumer has been materialized — a locally-checkpointed
    RDD has no lineage and cannot be recomputed once dropped."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # private API; best-effort cleanup only
        pass


def connected_components(
    edges: DataFrame, a: str = "a", b: str = "b", max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over near-dup pair edges → (node, component)
    where component = min node id reachable. The keeper-selection step
    after pair generation: one keeper (the component label) survives per
    duplicate cluster.

    Iterates join+min until fixpoint (O(graph diameter) rounds — near-
    dup clusters are shallow, typically 2-4). Each round materializes
    through localCheckpoint(eager=True): the convergence check reads the
    cached blocks instead of re-running the join, the logical plan stays
    O(1) deep across rounds (no exponential lineage growth), and round
    i-1's blocks are freed as soon as round i is materialized. At
    billion-edge scale swap the loop body for large-star/small-star; the
    checkpoint-per-round driver loop is the same shape.

    Warns (RuntimeWarning) if max_iter is exhausted before fixpoint —
    the returned labels are then only partially propagated and must not
    be mistaken for final components.

    The FINAL round's checkpoint blocks stay pinned: the returned
    DataFrame reads them, so the operator cannot free them (intermediate
    rounds ARE freed eagerly). LRU eviction or
    spark.catalog.clearCache() reclaims — repo-wide cache-ownership
    policy; same applies to connected_components_star.
    """
    import warnings

    from pyspark import StorageLevel

    und = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        und.select(F.col("src").alias("n"))
        .distinct()
        .withColumn("lbl", F.col("n"))
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        neigh = (
            und.join(labels, und.src == labels.n)
            .groupBy(F.col("dst").alias("n"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        merged = (
            labels.join(neigh, "n", "left")
            .select(
                "n",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "new_lbl"
                ),
                "lbl",
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.filter(F.col("new_lbl") != F.col("lbl")).limit(1).count()
        if prev is not None:
            _free_local_checkpoint(prev)
        prev = merged
        labels = merged.select("n", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} before "
            "fixpoint; returned labels are partially propagated, not final "
            "components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("n").alias("node"), F.col("lbl").alias("component"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, 'Connected Components
    in MapReduce and Beyond'). For every node u, connect each strictly
    larger neighbor to min(Γ(u) ∪ {u}). Input/output: undirected edge
    list as (u, v) pairs; output pairs satisfy u > v."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: for every node u over its ≤ neighbors
    (input pairs are (u, v) with v < u), connect u and all those
    neighbors to the smallest of them. Output pairs satisfy u > v."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select("u", F.col("m").alias("v"))
    return moved.union(self_edge).distinct()


def connected_components_star(
    edges: DataFrame, a: str = "a", b: str = "b", max_iter: int = 50
) -> DataFrame:
    """Connected components via alternating large-star/small-star —
    the O(log n)-round MapReduce algorithm (Kiveris et al. 2014), vs
    the O(diameter) min-label loop in connected_components().

    Same contract: (node, component) with component = min reachable id.
    Preferred at 100 TB when duplicate chains can be long (transitive
    near-dup clusters): round count is logarithmic in the largest
    component, each round is two hash-shuffles (groupBy + join) with no
    cross product. Rounds materialize through localCheckpoint like the
    min-label loop — O(1)-deep plans, predecessor blocks freed eagerly.

    Converged when a large-star round adds no edge beyond the current
    star set; warns (RuntimeWarning) on max_iter exhaustion.
    """
    import warnings

    e = (
        edges.filter(F.col(a) != F.col(b))
        .select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = e
    converged = False
    for _ in range(max_iter):
        ls = _large_star(e)
        ss = _small_star(ls).localCheckpoint(eager=True)
        # star fixpoint: large-star leaves a star set unchanged
        changed = ss.exceptAll(e).limit(1).count() + e.exceptAll(ss).limit(1).count()
        _free_local_checkpoint(prev)
        prev = ss
        e = ss
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components_star exhausted max_iter={max_iter} "
            "before fixpoint; labels may span partially-merged components",
            RuntimeWarning,
            stacklevel=2,
        )
    # final star edges: every non-min node points at its component min
    roots = e.select(F.col("v").alias("node")).distinct().exceptAll(
        e.select(F.col("u").alias("node")).distinct()
    ).select("node", F.col("node").alias("component"))
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return members.union(roots)


# ---------------------------------------------------------------------------
# Bloom prefilter for incremental dedup (the 100 TB anti-join shape)

def build_bloom(df: DataFrame, key_col: str, num_bits: int, k: int = 7):
    """Distributed bloom-filter build over `df[key_col]`: each task
    folds its partition into a LOCAL num_bits bitmap (numpy, Arrow
    batches), emits it packed (num_bits/8 bytes), and the driver ORs
    the partials — a classic commutative-monoid aggregate. The driver
    materialization is bounded by partitions × num_bits/8 bytes (a
    design constant, independent of corpus row count — same boundedness
    contract as the IVF training sample, knn.py).

    Hashing: two JVM xxhash64 passes (value, value+salt) feed
    Kirsch-Mitzenmacher double hashing pos_i = h1 + i·h2 (mod num_bits)
    in uint64 numpy — the probe side (bloom_maybe) runs the identical
    arithmetic, so there are NO false negatives by construction.
    Returns the bloom as packed bytes for a SparkContext broadcast.

    Spark's own BloomFilter sketch (df.stat.bloomFilter) produces an
    equivalent filter but its object can't cross the Python worker
    boundary; bloom_filter_agg is not SQL-registered in this Spark.
    """
    import numpy as np

    hashed = df.select(
        F.xxhash64(F.col(key_col)).alias("h1"),
        F.xxhash64(F.col(key_col), F.lit(1)).alias("h2"),
    )

    def fold(batches):
        import pandas as pd

        bits = np.zeros(num_bits, dtype=bool)
        for pdf in batches:
            h1 = pdf["h1"].to_numpy().astype(np.uint64)
            h2 = pdf["h2"].to_numpy().astype(np.uint64)
            for i in range(k):
                bits[((h1 + np.uint64(i) * h2) % np.uint64(num_bits)).astype(np.int64)] = True
        yield pd.DataFrame({"part": [np.packbits(bits).tobytes()]})

    parts = hashed.mapInPandas(fold, schema="part binary").collect()
    out = np.zeros((num_bits + 7) // 8 * 8, dtype=bool)
    for r in parts:
        out |= np.unpackbits(np.frombuffer(r.part, dtype=np.uint8)).astype(bool)
    return np.packbits(out[:num_bits]).tobytes()


def bloom_maybe(spark, bloom_bytes: bytes, num_bits: int, k: int = 7):
    """Column function: mightContain over the packed bloom from
    build_bloom — Arrow-vectorized pandas_udf; each batch is k numpy
    gathers over the broadcast bitmap (same Kirsch-Mitzenmacher
    arithmetic as the build, so no false negatives). Usage:
    df.withColumn("maybe", fn(col))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(bloom_bytes)

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint inference cannot resolve 'pd.Series' here
    @pandas_udf("boolean")
    def might(h1s, h2s):
        bits = np.unpackbits(np.frombuffer(bc.value, dtype=np.uint8)).astype(bool)
        h1 = h1s.to_numpy().astype(np.uint64)
        h2 = h2s.to_numpy().astype(np.uint64)
        ok = np.ones(len(h1), dtype=bool)
        for i in range(k):
            ok &= bits[((h1 + np.uint64(i) * h2) % np.uint64(num_bits)).astype(np.int64)]
        return pd.Series(ok)

    def col_fn(key: Column) -> Column:
        return might(F.xxhash64(key), F.xxhash64(key, F.lit(1)))

    return col_fn


def minhash_incremental_pairs_portable(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    seed_bcast_bound: int | None = None,
) -> DataFrame:
    """K9 incremental NEAR-dup: which new-batch documents are near-
    duplicates of the indexed corpus — the daily-ingest analog of
    `dedup_incremental`, one rung up from exact hashing. Both sides run
    the md5-60 MinHash sketch (minhash_sig_bands — a pure function of
    text, so separately-computed signatures are mutually consistent),
    then candidates come ONLY from the corpus-band × batch-band
    equi-join: within-corpus and within-batch pairs are never
    generated, which is what makes the daily cost proportional to the
    batch, not the corpus. Exact Jaccard verifies candidates.

    Output: (corpus_doc, batch_doc, jaccard >= threshold). At 100 TB
    the corpus banded table is the precomputed index: store it
    partitioned by (band, bh-prefix) and only the batch side is
    computed per run (same pre-bucketing note as dedup_incremental).
    """
    # seed-dedup only on the corpus side (scale-proportional grams);
    # the batch side keeps the inline form — see minhash_sig_bands
    base_c, _sig_c, banded_c = minhash_sig_bands(
        corpus, text_col, id_col, True, seed_bcast_bound
    )
    base_b, _sig_b, banded_b = minhash_sig_bands(batch, text_col, id_col, True)
    return minhash_incremental_pairs_precomputed(
        banded_c.select("doc", "band", "bh"),
        base_c.select("doc", "sh"),
        banded_b.select("doc", "band", "bh"),
        base_b.select("doc", "sh"),
        jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )


def minhash_incremental_pairs_precomputed(
    banded_c: DataFrame,
    sh_c: DataFrame,
    banded_b: DataFrame,
    sh_b: DataFrame,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The candidate-join + exact-Jaccard-verify tail of
    minhash_incremental_pairs_portable over PRECOMPUTED (doc, band,
    bh) / (doc, sh) tables — the streaming state form (r12): the
    corpus side is the persisted index, only the batch side is
    computed per micro-batch. Signatures/shingles are pure functions
    of text (minhash_sig_bands), so separately-computed sides are
    mutually consistent.

    ``max_bucket_size`` caps the CORPUS-side bucket fan-out (r13, the
    repo-wide band-cap rule applied to the incremental form): a
    (band, bh) bucket holding more than the cap of indexed docs —
    boilerplate template families, which only GROW as the index
    admits docs — keeps only its min-id representative in the probe,
    so per-batch candidate volume is bounded by cap × |batch bands|
    instead of growing with state occupancy. Batch docs landing in a
    hot bucket still exact-verify against the representative (the
    member every template-cluster doc matches); same recall contract
    as bucket_pairs' star routing. Self-pairs
    (corpus_doc == batch_doc — possible when a crash-replayed batch
    probes state containing its own rows, or a doc id is re-sent) are
    excluded: "duplicate of itself" is never a meaningful verdict.
    """
    cand = incremental_band_candidates(banded_c, banded_b, max_bucket_size)
    return incremental_verify_candidates(cand, sh_c, sh_b, jaccard_threshold)


def incremental_band_candidates(
    banded_c: DataFrame,
    banded_b: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Phase 1 of the incremental probe: corpus-band × batch-band
    equi-join → distinct (corpus_doc, batch_doc) candidates, with the
    hot-state-bucket min-id-representative cap (see
    minhash_incremental_pairs_precomputed). Factored out (r14) so the
    streaming sink can materialize the candidate set, collect its
    corpus-doc partition prefixes, and read ONLY those shingle-state
    partitions for phase 2 — the state-probe pruning the neardup
    module doc promises."""
    if max_bucket_size is not None:
        from pyspark.sql import Window

        # grpwin-ok: (band, bh) bucket keyspace scales with the index;
        # hot buckets are exactly what the cap routes
        w = Window.partitionBy("band", "bh")
        sized = banded_c.withColumn("_bs", F.count("*").over(w)).withColumn(
            "_rep", F.min("doc").over(w)
        )
        banded_c = sized.filter(
            (F.col("_bs") <= max_bucket_size) | (F.col("doc") == F.col("_rep"))
        ).select("doc", "band", "bh")
    return (
        banded_c.select(F.col("doc").alias("corpus_doc"), "band", "bh")
        .join(
            banded_b.select(F.col("doc").alias("batch_doc"), "band", "bh"),
            ["band", "bh"],
        )
        .filter(F.col("corpus_doc") != F.col("batch_doc"))
        .select("corpus_doc", "batch_doc")
        .distinct()
    )


def incremental_verify_candidates(
    cand: DataFrame,
    sh_c: DataFrame,
    sh_b: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Phase 2 of the incremental probe: exact-Jaccard verification of
    (corpus_doc, batch_doc) candidates against the two shingle tables.
    ``sh_c`` may be pre-pruned to the candidates' partitions — the
    join semantics only ever read the candidate docs' rows."""
    shc = sh_c.select(F.col("doc").alias("corpus_doc"), F.col("sh").alias("sh_c"))
    shb = sh_b.select(F.col("doc").alias("batch_doc"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_c", "sh_b"))
    return (
        cand.join(shc, "corpus_doc")
        .join(shb, "batch_doc")
        .withColumn(
            "jaccard", inter / (F.size("sh_c") + F.size("sh_b") - inter)
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_doc", "batch_doc", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Sign-random-projection (SRP) codes — cosine LSH for embeddings
# ---------------------------------------------------------------------------

#: SRP geometry: 32 hyperplanes -> 32-bit codes, 4 bands of 8 bits for
#: blocking. The hyperplanes are md5_signs("", SRP_BITS, dim) and the
#: dots run on the exact-integer kernel (functions/vector.py), so the
#: sign — and therefore the code — is bit-identical on any engine:
#: this is the fully oracle-checkable twin of the MLlib
#: BucketedRandomProjectionLSH path (which is rows-only by contract).
SRP_BITS = 32
SRP_BANDS = 4


def srp_code(vec_col: str, dim: int, spark: bool = True) -> str:
    """Engine expression computing the SRP code of an array<float>
    column: quantize to integers, take the sign of each hyperplane dot
    product, pack the bits. One SQL string (driver-side plan-cost fast
    path); the quantized array is a shared subtree across planes."""
    q = int_quant_sql(vec_col, spark)
    terms = []
    for p, row in enumerate(md5_signs("", SRP_BITS, dim)):
        dot = int_dot_sql(q, row, spark)
        if spark:
            terms.append(f"IF({dot} >= 0, {1 << p}L, 0L)")
        else:
            terms.append(
                f"CASE WHEN {dot} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END"
            )
    return "(" + " + ".join(terms) + ")"
