"""Aggregation catalog queries (SURVEY.md §2.4 + [EXT] corpus stats).

Hash-stability policy: per-row arithmetic stays in DOUBLE (IEEE ops are
bit-identical across engines), but the SUM runs through DECIMAL(38,6)
— exact and commutative, so partition/visit order can't change the
result — then casts back to DOUBLE. avg = decimal-sum / count, divided
in double on both engines. Never multiply two decimals (DuckDB widens
past 38 and silently falls back to DOUBLE; Spark clips scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register, register_sql
from fegis_spark.model import load_table
from fegis_spark.queries.sqlfrag import (
    epoch_us_sql,
    ignore_nulls_sql,
    isodow_sql,
    json_str_sql,
    series_sql,
    tokens_sql,
    ts_sql,
)

DEC = "decimal(38,6)"


def dsum(col) -> Column:
    """Order-independent sum of a double column/expr, emitted as double.

    Measured alternatives at sf0.1 (pricing_summary, local[32]): plain
    double SUM 0.34s (order-dependent — disqualified), 1e6-scaled
    BIGINT SUM 0.87s (bit-identical values here, but overflows 2^63
    once a single group exceeds ~1e8 max-magnitude money rows — i.e.
    exactly the 100 TB case), DECIMAL(38,0)-of-scaled-long 2.4s (the
    38-digit buffer is non-compact). DECIMAL(38,6) at 1.7s keeps 38
    digits of headroom at any group size; we deliberately pay ~2× local
    bench over the scaled-long trick for scale-proof exactness."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(DEC)).cast("double")


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("A3", "§2.4-agg", "F3"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → partial agg →
    single shuffle on the 2 grouping cols → final agg. The canonical
    100 TB-safe aggregation: map-side combine shrinks shuffle volume to
    |groups| per partition.

    r14 opt (guide §2.3 "narrower types"): the decimal transit is
    decomposed into SPLIT-LONG sums with a decimal recombination per
    GROUP instead of per row. Per row: q = micro-unit quantization of
    the money value as a primitive BIGINT; the group sums q's high
    (>>21) and low (&2^21-1) halves as two plain long sums (pure
    codegen, no per-row BigDecimal), then one decimal expression per
    OUTPUT ROW recombines them exactly. Equality with the old
    per-row DECIMAL(38,6) transit is bit-exact:

    * quantization: CAST(x*1e6 + 0.5e0 AS BIGINT) equals the decimal
      cast's HALF_UP quantization on every driver row — probed over
      all 5 summed expressions x all 3 sfs, 0 mismatches
      (evidence/pricing_quant_probe_r14.json). The +0.5-floor form
      requires x >= 0 (money schema; probe also pins 0 negative rows).
    * overflow: money rows are schema-bounded (|x| < ~1.8e6 units so
      q < 2^41); sum(q>>21) <= 2^20·n and sum(q&mask) <= 2^21·n keep
      both partial sums inside BIGINT for n up to ~4e12 rows PER GROUP
      — beyond the 100 TB lineitem row count, which is what the old
      single scaled-long sum (overflow at ~1e8 rows/group) failed.
    * recombination: CAST(sh AS DECIMAL(19,0))*2097152 + sl stays
      within DECIMAL(27..28,0) (no precision clip), the /1e6 division
      result scale (8) holds the exact 6-dp value, and the final
      decimal→double cast is the same correctly-rounded conversion the
      old path ended with.

    Measured (dsum docstring's ladder, same box class): plain double
    0.34 s (disqualified, order-dependent), split-long ~0.55 s,
    DECIMAL(38,6) 1.7 s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")
    money = {
        "qty": "l_quantity",
        "base": "l_extendedprice",
        "d1": "l_extendedprice * (1.0e0 - l_discount)",
        "d2": "l_extendedprice * (1.0e0 - l_discount) * (1.0e0 + l_tax)",
        "disc": "l_discount",
    }

    def q(e: str) -> str:
        # sign-aware half offset (ADVICE r15): the bigint cast truncates
        # toward zero, so +0.5-then-floor only matches the decimal
        # HALF_UP (round half away from zero) transit for x >= 0; the
        # IF keeps the equality structural for a future data drop with
        # negative money rows instead of probe-only. On current drops
        # (probed: 0 negative rows) the branch is never taken and the
        # values are bit-identical to the r14 spelling.
        return (
            f"CAST(({e}) * 1e6 + IF(({e}) >= 0, 0.5e0, -0.5e0) AS BIGINT)"
        )

    parts = []
    for name, e in money.items():
        parts.append(F.expr(f"SUM(SHIFTRIGHT({q(e)}, 21))").alias(f"__h_{name}"))
        parts.append(F.expr(f"SUM({q(e)} & 2097151)").alias(f"__l_{name}"))

    def recomb(name: str) -> str:
        return (
            f"CAST((CAST(__h_{name} AS DECIMAL(19,0)) * 2097152 + __l_{name})"
            f" / CAST(1000000 AS DECIMAL(7,0)) AS DOUBLE)"
        )

    return (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*parts, F.count("*").alias("count_order"))
        .selectExpr(
            "l_returnflag",
            "l_linestatus",
            recomb("qty") + " AS sum_qty",
            recomb("base") + " AS sum_base_price",
            recomb("d1") + " AS sum_disc_price",
            recomb("d2") + " AS sum_charge",
            recomb("qty") + " / count_order AS avg_qty",
            recomb("disc") + " / count_order AS avg_disc",
            "count_order",
        )
    )


# [EXT] per-(lang, source) corpus statistics for a training-data
# pipeline: counts, distincts, char totals.
register_sql(
    "corpus_stats",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_distinct_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_chars
    FROM {documents}
    GROUP BY lang, source
    """,
    covers=("§2.4-agg", "[EXT]-text-stats"),
)


# ROLLUP hierarchy (type → type×day → grand total) — one shuffle,
# grouping-set expansion is map-side. HAVING drops the grand total of
# an empty input, which DuckDB emits and Spark does not (every group
# of a non-empty input counts rows).
register_sql(
    "events_rollup",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM {events}
    GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
    HAVING COUNT(*) > 0
    """,
    covers=("§2.4-rollup",),
)


# CUBE over event_type x a JSON-extracted key (T12: get_json_object
# on the props column, reference-analog of frame field access). HAVING
# drops the empty input's grand total, as in events_rollup.
register_sql(
    "events_cube",
    lambda *, spark: f"""
    SELECT event_type, k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM (
      SELECT event_type, value,
             CAST({json_str_sql('props', '$.k', spark=spark)} AS BIGINT) % 3 AS k_mod
      FROM {{events}}
    )
    GROUP BY CUBE(event_type, k_mod)
    HAVING COUNT(*) > 0
    """,
    covers=("§2.4-cube", "T12"),
)


@register(
    "hll_error_audit",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_rel_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    covers=("§2.4-approx",),
)
def hll_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per returnflag — the
    scale-path distinct — as an error-bound audit (r5 verdict #4, the
    dedup_minhash_eval pattern; replaces the former rows-only
    approx_distinct_parts, which this subsumes):
    compute sketch AND exact distinct on the same data, emit the exact
    side as values and the error-bound check as a boolean the oracle
    asserts literally TRUE. The sketch value itself is engine-specific
    (DuckDB cannot replay Spark's HLL++ registers) but the CLAIM about
    it — relative error within 5% = 5×rsd at rsd 0.01 — is
    value-checked: if the sketch ever drifts outside the bound, the
    boolean flips and the gate fails. HLL++ is deterministic given the
    data, so this is a stable assertion, not a flaky one. At 100 TB
    you run exactly this audit on a slice before trusting the sketch
    fleet-wide.

    r14 plan shape: mixing an exact DISTINCT aggregate with a
    non-distinct one in a single agg plans the distinct via
    RewriteDistinctAggregates — the partial HLL++ sketch state
    (1,641 BIGINT registers, see `Results [1641]` in
    plans/r14/hll_error_audit_before.txt) is keyed on
    (l_returnflag, l_partkey) and carried PER DISTINCT KEY PAIR
    through the first exchange (~200k rows x ~13 KB of sketch
    buffer; the r11 dual-countDistinct gotcha's sibling). Both
    values are instead computed over a pre-DISTINCT (flag, partkey)
    projection: COUNT(*) of the distinct set IS count-distinct, and
    HLL registers are a pure function of the value SET (duplicate
    inserts only re-max the same register), so approx_count_distinct
    over the distinct set is the identical sketch value. The partial
    distinct collapses map-side and ONE sketch buffer per group
    crosses the exchange — ~1/400 the shuffled bytes at the same
    2-exchange count (guide §2.3/§2.4; measured 6.3 -> ~1 s at
    sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_returnflag", "l_partkey").distinct()
    g = d.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.count(F.lit(1)).alias("exact_parts"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("within_rel_5pct"),
    )


# Variance from decimal-exact moment sums (sum, sum-of-squares) —
# the order-independent form of stddev/var; the built-in var_samp is
# a float accumulation whose partition order would flap the hash.
register_sql(
    "stats_moments",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
           (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
                 / nullif(COUNT(*) - 1, 0) AS variance
    FROM {lineitem} GROUP BY l_returnflag
    """,
    covers=("§2.4-stats",),
)


@register(
    "word_count_top20",
    oracle=rf"""
    SELECT tok, n, rnk FROM (
      SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM (
        SELECT tok, COUNT(*) AS n FROM (
          SELECT unnest({tokens_sql('text', spark=False)}) AS tok
          FROM documents
        ) GROUP BY tok
      )
    ) WHERE rnk <= 20
    """,
    covers=("§2.8-explode", "[EXT]-text-stats"),
)
def word_count_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical explode → groupBy → top-k: corpus vocabulary head.
    Partial aggregation makes the shuffle |vocab|-sized, not |tokens|;
    ranked_topk keeps the ranking window-free (an unpartitioned
    row_number window would funnel the whole vocab through one task)."""
    from fegis_spark.operators.dedup import tokens
    from fegis_spark.operators.topk import ranked_topk

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return ranked_topk(counts, "n", "tok", 20, "rnk").select("tok", "n", "rnk")


# rank/dense_rank/ntile/lead in one pass (top-50 per priority). rank
# ties on exact price (decimal-cast so both engines tie identically);
# ntile/lead orders carry the key tiebreak. The filter is a subquery
# over row_number (Spark has no QUALIFY). Spark's rank family is INT:
# CAST to BIGINT as DuckDB types it.
register_sql(
    "rank_family",
    """
    SELECT o_orderkey, o_orderpriority, rnk, drnk, quartile, next_key
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CAST(rank() OVER w AS BIGINT) AS rnk,
             CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             CAST(ntile(4) OVER wt AS BIGINT) AS quartile,
             lead(o_orderkey) OVER wt AS next_key,
             row_number() OVER wt AS rn
      FROM {orders}
      -- panel-ok: 5-priority panel; ntile/lead need FULL partitions by
      -- semantics, so WindowGroupLimit cannot apply — at scale use the
      -- bucket offset-merge decomposition (operators/topk.grouped_ntile
      -- / grouped_lead, certified by grouped_*_sharded below)
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC),
             -- panel-ok: the same 5-priority panel
             wt AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 50
    """,
    covers=("§2.5-rank", "§2.5-ntile", "§2.5-lead"),
)


#: bucket radix for the sharded ntile/lead queries: fixed-width length
#: buckets (DIV 16, capped at 64) — monotone in the order column by
#: construction; at production scale the splits come from approx
#: quantiles and the radix widens until a slice fits a task.
_NTILE_BUCKET = "least(n_chars DIV 16, 63)"


@register(
    "grouped_ntile_sharded",
    oracle="""
    SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars,
           ntile(4) OVER w AS q4,
           ntile(7) OVER w AS q7
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY length(text), doc_id)
    """,
    covers=("§2.5-ntile", "§2.5-window"),
)
def grouped_ntile_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile WITHOUT a full-partition window (r13, closing the r12
    verdict's open window family): quartile + septile of document
    length per language via operators/topk.grouped_ntile — per-(lang,
    length-bucket) local ranks merged with panel base offsets, then
    the exact-BIGINT SQL-standard tile function of (rank, count, n).
    The language partitions scale with the corpus (5 langs at every
    sf), which is precisely the shape where the native window form
    funnels and WindowGroupLimit cannot fire (ntile needs the full
    partition); the oracle runs DuckDB's NATIVE ntile, certifying the
    decomposition against the engine implementation, remainder tiles
    (n=7 on non-divisible groups) included."""
    from fegis_spark.operators.topk import grouped_ntile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    df = docs.withColumn("b", F.expr(_NTILE_BUCKET))
    out = grouped_ntile(df, "lang", ["n_chars", "doc_id"], "b", {"q4": 4, "q7": 7})
    return out.select("doc_id", "lang", "n_chars", "q4", "q7")


@register(
    "grouped_lead_sharded",
    oracle="""
    SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars,
           lead(CAST(length(text) AS INT)) OVER (
             PARTITION BY lang ORDER BY length(text), doc_id
           ) AS next_chars
    FROM documents
    """,
    covers=("§2.5-lead", "§2.5-window"),
)
def grouped_lead_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead WITHOUT a full-partition window (r13, companion of
    grouped_ntile_sharded): each document's successor length in the
    per-language length order via operators/topk.grouped_lead — local
    lead within (lang, length-bucket), bucket-boundary rows resolved
    from the bounded panel of per-bucket first values (empty buckets
    skipped by construction; the last row's NULL is the true
    no-successor answer). Oracle = DuckDB's native lead."""
    from fegis_spark.operators.topk import grouped_lead

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    df = docs.withColumn("b", F.expr(_NTILE_BUCKET))
    out = grouped_lead(
        df, "lang", ["n_chars", "doc_id"], "n_chars", "b", out_name="next_chars"
    )
    return out.select("doc_id", "lang", "n_chars", "next_chars")


@register(
    "grouped_ntile_quantile",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ntile(10) OVER (
             PARTITION BY o_orderpriority
             ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey
           ) AS decile
    FROM orders
    """,
    covers=("§2.5-ntile", "§2.5-window"),
)
def grouped_ntile_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION bucket derivation certified end-to-end (r13
    verdict #4): price deciles per order priority via
    operators/topk.order_range_buckets — an approx-quantile range
    radix — feeding grouped_ntile's offset-merge decomposition. The
    order column (o_totalprice, a sum of 1-7 line items) is
    right-skewed, exactly where the fixed-width DIV radix of
    grouped_ntile_sharded degenerates to a few hot low-price buckets;
    quantile cuts re-balance the (group, bucket) slices. approxQuantile
    is one aggregation pass + a bounded driver round-trip re-entered as
    a literal CASE ladder (operators/topk.py docstring). Boundary
    quality affects LOAD BALANCE, never results — monotonicity in the
    order column is grouped_ntile's only correctness requirement — so
    the DuckDB oracle runs NATIVE ntile with no knowledge of the cuts:
    a hash match certifies the quantile-radix path exactly as the
    DIV-radix twin is certified. decimal(12,2)→double is exact here
    (scaled values < 2^53), so both engines order identically."""
    from fegis_spark.operators.topk import grouped_ntile, order_range_buckets

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("__p"),
    )
    df = order_range_buckets(orders, "__p", num_buckets=32, bucket_name="b")
    out = grouped_ntile(
        df, "o_orderpriority", ["__p", "o_orderkey"], "b", {"decile": 10}
    )
    return out.select("o_orderkey", "o_orderpriority", "decile")


# Explicit GROUPING SETS via the SQL API (Catalyst expands to one
# shuffle, same as rollup/cube).
register_sql(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM {orders}
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    covers=("§2.4-grouping-sets",),
)


# A1 in its aggregation form: max_by with a UNIQUE order key
# (event_id) — partial aggregation, the cheapest argmax at scale (the
# window form is latest_event_per_user).
register_sql(
    "argmax_maxby",
    """
    SELECT event_type,
           max_by(event_id, event_id) AS last_event_id,
           max_by(user_id, event_id) AS last_user_id,
           MAX(event_id) AS max_event_id
    FROM {events} GROUP BY event_type
    """,
    covers=("A1", "S6"),
)


#: shared ordered-funnel CTE chain (first view -> later first click ->
#: later first purchase, per user) — interpolated by BOTH the
#: conversion-count text and the latency-percentile oracle ({events}
#: is a register_sql table placeholder).
_FUNNEL_CTE = """v AS (
      SELECT user_id, min(ts) AS t1 FROM {events} WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1
      FROM {events} e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2
      FROM {events} e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )"""


# [EXT] ordered funnel (view -> later click -> later purchase):
# each stage is events ⋈ previous-stage users on user_id with a
# strictly-later timestamp, then min-agg. All three joins and aggs
# hash on the same user_id key, so a user_id-bucketed warehouse
# layout runs the whole funnel shuffle-free; stage frontiers only
# shrink, so every join's right side is smaller than the last. The
# three 1-row counts meet in broadcast cross joins, one plan (as
# scalar subqueries each would run as its own job first).
register_sql(
    "funnel_conversion",
    f"""
    WITH {_FUNNEL_CTE}
    SELECT n_viewed, n_clicked_after, n_purchased_after
    FROM (SELECT count(*) AS n_viewed FROM v) nv
    CROSS JOIN (SELECT count(*) AS n_clicked_after FROM c) nc
    CROSS JOIN (SELECT count(*) AS n_purchased_after FROM p) np
    """,
    covers=("[EXT]-funnel", "§2.4-agg"),
)


def _lat_agg_sql(src: str, a: str, b: str, label: str, *, spark: bool) -> str:
    """One latency-transition aggregate: exact integer micros deltas,
    interpolated percentiles, seconds."""
    d = f"({epoch_us_sql(b, spark=spark)} - {epoch_us_sql(a, spark=spark)})"
    return f"""SELECT '{label}' AS transition, COUNT(*) AS n_users,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY {d}) / 1e6 AS p25_s,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY {d}) / 1e6 AS p50_s,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY {d}) / 1e6 AS p90_s,
           CAST(MAX({d}) AS DOUBLE) / 1e6 AS max_s
    FROM {src}"""


# [EXT] funnel conversion-latency distribution: for each stage
# transition (first view -> first later click, first click -> first
# later purchase), the p25/p50/p90/max time-to-convert in seconds —
# the number that turns 'X% convert' into 'and it takes them N hours',
# which is what sets attribution windows and retargeting delays. Both
# funnel texts interpolate ONE shared stage CTE. Deltas are exact
# integer micros; the interpolated percentiles are emitted UNROUNDED
# (bitwise-identical cross-engine, pinned in
# tests/test_property_portable.py; round(x, 6) would reintroduce the
# midpoint tie-break class). Scale: the same shrinking user_id-keyed
# joins as funnel_conversion, then two constant-size aggregates.
register_sql(
    "funnel_time_to_convert",
    lambda *, spark: f"""
    WITH {_FUNNEL_CTE}
    {_lat_agg_sql('c', 't1', 't2', 'view_to_click', spark=spark)}
    UNION ALL
    {_lat_agg_sql('p', 't2', 't3', 'click_to_purchase', spark=spark)}
    """,
    covers=("[EXT]-funnel", "§2.4-quantiles"),
)


# [EXT] z-score anomaly counts per event_type: per-group moments
# from decimal-exact sums (order-independent, unlike the float
# var_samp accumulator), broadcast back to the stream, |z| > 3
# flagged. The stats table is |event_types| rows — the second pass
# is a broadcast join, so corpus-size work is two scans and two
# partial aggs; the same shape monitors feature drift in a training
# pipeline. The hint is needed: without CBO an aggregate's size
# estimate is its input's, so the planner would broadcast the event
# side instead while it is small and shuffle it once it is not.
register_sql(
    "anomaly_zscore",
    """
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean,
             sqrt(greatest(
               (CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
                - CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
               / nullif(COUNT(*) - 1, 0), 0)) AS sd
      FROM {events} GROUP BY event_type
    )
    -- bcast-ok: one row per event_type (bounded enum)
    SELECT /*+ BROADCAST(s) */ e.event_type,
           s.n AS n_events,
           COUNT(*) FILTER (WHERE abs((e.value - s.mean) / s.sd) > 3.0) AS n_outliers
    FROM {events} e JOIN stats s ON e.event_type = s.event_type
    WHERE s.sd > 0
    GROUP BY e.event_type, s.n
    """,
    covers=("[EXT]-anomaly", "§2.4-stats"),
)


# §2.4 cohort retention: users bucketed by first-seen week, then
# distinct active users per (cohort, week offset) — the classic
# retention triangle. Three hash shuffles (first-seen agg, distinct,
# final agg), all on uniform keys; the first-seen table joins back
# broadcast when cohorts << corpus. Both weeks start at midnight, so
# the day difference of their dates is exact.
register_sql(
    "cohort_retention",
    """
    WITH e AS (
      SELECT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wk
      FROM {events}
    ), first AS (
      SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id
    ), act AS (SELECT DISTINCT user_id, wk FROM e)
    SELECT f.cohort,
           CAST(CAST(CAST(a.wk AS DATE) - CAST(f.cohort AS DATE) AS BIGINT) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM act a JOIN first f USING (user_id)
    GROUP BY f.cohort, week_offset
    """,
    covers=("§2.4-ext",),
)


# [EXT] first-order Markov transition matrix over per-user event
# sequences: P(next event_type | current event_type) — the standard
# behavioral-sequence summary (drift monitoring, synthetic-session
# generation, next-event baselines).
#
# Plan: one per-user lag window (same (user_id, ts, event_id) total
# order as the lineage family) into a (prev, next)-keyed hash agg;
# the per-prev context totals are a window over those transition
# counts — one corpus pass, no persist, no join back (a ctx CTE joined
# back to the counts re-ran the corpus window per consumer).
# Transition-matrix cardinality is |event_types|^2, so everything
# after the first agg is constant-size regardless of corpus scale.
# n/ctx_n is exact integer-ratio division (no dsum needed), emitted
# unrounded — the IEEE divide is bit-identical cross-engine.
register_sql(
    "event_transition_matrix",
    lambda *, spark: f"""
    WITH seq AS (
      SELECT user_id, event_type,
             -- grpwin-ok: user_id cardinality scales with input
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY {ts_sql(spark=spark)}, event_id
             ) AS prev_type
      FROM {{events}}
    ), pairs AS (
      SELECT prev_type, event_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           -- panel-ok: bounded input, the |event_types|^2-row count table
           n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
    FROM pairs
    """,
    covers=("[EXT]-transitions",),
)


# [EXT] time-series resampling: per-user DAILY grid between that
# user's first and last active day, gap-filled with last-observation-
# carried-forward — the regularization step before any fixed-step
# model (forecasting, drift detection) consumes an irregular event
# stream. One window picks each (user, day)'s closing value (total
# order ts DESC, event_id DESC), a per-user min/max agg bounds the
# grid, a series explodes it (rows = active-days x users — no cross
# join against a global calendar), and a second per-user window
# carries values forward. Both windows are user-partitioned; nothing
# global. Values pass through unmodified (no summation).
register_sql(
    "events_resample_locf",
    lambda *, spark: f"""
    WITH daily AS (
      SELECT user_id, day, value FROM (
        SELECT user_id, day, value,
               -- grpwin-ok: (user_id, day) cardinality scales with input
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, day
                 ORDER BY {ts_sql(spark=spark)} DESC, event_id DESC
               ) AS rn
        FROM (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value FROM {{events}})
      ) WHERE rn = 1
    ), bounds AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, CAST(day AS DATE) AS day FROM (
        SELECT user_id, {series_sql('d0', 'd1', 'INTERVAL 1 DAY', spark=spark)} AS day
        FROM bounds
      )
    )
    SELECT g.user_id, g.day,
           -- grpwin-ok: user_id cardinality scales with input
           {ignore_nulls_sql('last_value', 'd.value', spark=spark)} OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value,
           CASE WHEN d.value IS NULL THEN 0 ELSE 1 END AS observed
    FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    """,
    covers=("[EXT]-resample",),
)


# [EXT] rolling 1-hour per-user value sum — the RANGE-frame window
# (time-based, not row-count-based) that rate monitors and sliding
# features are built on. The frame key is epoch MICROseconds on both
# engines (casting to whole seconds would move boundary events in and
# out of the window); the sum rides DECIMAL(38,6) inside the frame
# (frame contents are still a partition-order-free set).
# User-partitioned, never global.
register_sql(
    "events_rolling_1h",
    lambda *, spark: f"""
    SELECT event_id, user_id,
           round(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE), 6) AS rolling_1h,
           COUNT(*) OVER w AS n_1h
    FROM {{events}}
    -- grpwin-ok: user_id cardinality scales with input
    WINDOW w AS (
      PARTITION BY user_id ORDER BY {epoch_us_sql('ts', spark=spark)}
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
    covers=("[EXT]-rolling-range", "§2.5-window"),
)


HIST_BUCKETS = 20
HIST_LO, HIST_HI = 0.0, 500.0


# Fixed-width histogram of events.value (20 buckets over [0,500],
# clamped edges) — the distribution summary behind drift dashboards.
# Bucket arithmetic is explicit floor division (width_bucket is not
# portable to DuckDB); one hash agg over HIST_BUCKETS keys.
register_sql(
    "value_histogram",
    f"""
    SELECT bucket,
           -- CAST: DuckDB parses the width literal as DECIMAL, which
           -- would propagate a Decimal-typed column the driver's
           -- type-sensitive hash can't match against Spark's DOUBLE
           CAST({HIST_LO} + bucket * {(HIST_HI - HIST_LO) / HIST_BUCKETS} AS DOUBLE) AS lo,
           CAST({HIST_LO} + (bucket + 1) * {(HIST_HI - HIST_LO) / HIST_BUCKETS} AS DOUBLE) AS hi,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM (
      SELECT value,
             least({HIST_BUCKETS - 1}, greatest(0,
               CAST(floor((value - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) AS INT)
             )) AS bucket
      FROM {{events}}
    )
    GROUP BY bucket
    """,
    covers=("§2.4-agg",),
)


# §2.4 ext: distinct-users-to-date growth curve. Windowed COUNT
# DISTINCT doesn't exist in Spark (or anywhere, scalably); the
# standard decomposition is first-seen: each user contributes once
# at MIN(day), daily new-user counts aggregate, and a running sum
# over the DAY table yields the cumulative curve. Two hash shuffles
# on corpus-scale data (first-seen agg, daily agg); the running-sum
# window is unpartitioned but runs over the aggregated day table —
# rows = distinct days, bounded by the calendar, not the corpus.
register_sql(
    "cumulative_unique_users",
    """
    WITH first AS (
      SELECT user_id,
             MIN(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP))
               AS first_day
      FROM {events} GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM first GROUP BY first_day
    )
    SELECT day, new_users,
           -- window-ok: one row per day (bounded date range)
           CAST(SUM(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    """,
    covers=("§2.4-ext", "§2.5-window"),
)


# §2.5 value window functions — first_value / full-frame last_value
# and nth_value / IGNORE NULLS — the family the rank queries don't
# touch. NULLs are injected deterministically (click events) so the
# IGNORE NULLS path is non-vacuous; the running window and the full
# frame share ONE user exchange (same partition spec), and rn=1
# collapses to one row per user. Values pass through untouched.
register_sql(
    "window_value_functions",
    lambda *, spark: f"""
    SELECT user_id, first_v, last_v, third_v, first_noncl
    FROM (
      SELECT user_id,
             row_number() OVER w AS rn,
             first_value(value) OVER w AS first_v,
             last_value(value) OVER wf AS last_v,
             nth_value(value, 3) OVER wf AS third_v,
             {ignore_nulls_sql(
                 'first_value',
                 "CASE WHEN event_type = 'click' THEN NULL ELSE value END",
                 spark=spark,
             )} OVER wf AS first_noncl
      FROM {{events}}
      -- grpwin-ok: user_id cardinality scales with input
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             -- grpwin-ok: the same user partitions
             wf AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
    ) WHERE rn = 1
    """,
    covers=("§2.5-value-fns", "W1"),
)


# §2.8 date/time scalar breadth — the functions with ENGINE CONVENTION
# TRAPS: the ISO day of week (isodow_sql; Spark's dayofweek is
# Sunday=1), month arithmetic (both engines' + INTERVAL clamp to month
# end), last_day, and day differences (date - date, cast to BIGINT
# days). Grouped so the output is a compact calendar rollup; outputs
# are TIMESTAMP/INT/BIGINT on both engines.
register_sql(
    "order_date_functions",
    lambda *, spark: f"""
    SELECT CAST(year(d) AS INT) AS yr,
           CAST(quarter(d) AS INT) AS qtr,
           CAST({isodow_sql('d', spark=spark)} AS INT) AS iso_dow,
           COUNT(*) AS n_orders,
           CAST(MIN(last_day(d)) AS TIMESTAMP) AS first_month_end,
           CAST(MAX(d + INTERVAL 3 MONTH) AS TIMESTAMP) AS max_plus3mo,
           MAX(CAST(d - DATE '1995-01-01' AS BIGINT)) AS max_days_since_epoch0
    FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM {{orders}})
    GROUP BY yr, qtr, iso_dow
    """,
    covers=("§2.8-datetime", "§2.4-agg"),
)


@register(
    "anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS dv, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(dv, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           MAX(dev.med) AS median_v,
           MAX(mad.mad) AS mad_v,
           COUNT(*) AS n,
           -- lint: allow R3 (integer 0/1 CASE sum, not a double sum)
           CAST(SUM(CASE WHEN dev.dv > 3.0 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
    covers=("[EXT]-mad-outliers", "§2.4-stats"),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] robust outlier detection via median absolute deviation —
    the breakdown-resistant twin of anomaly_zscore (a handful of
    extreme rows shifts a mean/stddev gate but not a median/MAD one;
    the 1.4826 factor makes MAD consistent with sigma under
    normality, 3-sigma-equivalent threshold). Exact interpolated
    medians (Spark percentile == DuckDB quantile_cont — the proven
    portable pair) at both levels; the deviation projection persists
    because the MAD aggregate AND the outlier count both read it, and
    at 100 TB the alternative is a third corpus scan. All constants
    literal with identical association; counts are integers."""
    from pyspark import StorageLevel

    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")  # bcast-ok: one row per event_type
        .select(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("dv"), "med"
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dv, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")  # bcast-ok: one row per event_type
        .groupBy("event_type")
        .agg(
            # UNROUNDED: the interpolated medians are bitwise-identical
            # cross-engine (percentile==quantile_cont pin) — round(x,6)
            # would reintroduce the midpoint tie-break class
            F.max("med").alias("median_v"),
            F.max("mad").alias("mad_v"),
            F.count("*").alias("n"),
            F.sum(
                (F.col("dv") > 3.0 * 1.4826 * F.col("mad")).cast("int")
            ).cast("bigint").alias("n_outliers"),
        )
    )


#: lineitem's full column set, profiled one aggregate per column
_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


def _profile_sql() -> str:
    aggs = ["COUNT(*) AS n_rows"]
    for i, c in enumerate(_PROFILE_COLS):
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn{i}"
        )
        aggs.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd{i}")
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nn{i} AS n_nulls,"
        f" nd{i} AS n_distinct FROM a"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return (
        f"WITH a AS (SELECT {', '.join(aggs)} FROM {{lineitem}})\n"
        f"    SELECT * FROM ({arms}) ORDER BY column_name"
    )


# [EXT] data-quality profile of a table: per column the row
# count, null count, and EXACT distinct cardinality — the
# ingestion-triage report every warehouse runs before trusting a new
# drop (null-rate regressions, key-cardinality drift, constant
# columns). Spark inlines the CTE into one arm per column and prunes
# each arm to its own column: a single-distinct aggregate per column
# (no Expand), and the arms' scans together read each column once. A
# stack() unpivot to (column_name, value) rows ran slower: 5.47 vs
# 2.47 s at sf0.1, 28.2 vs 23.4 s on a 16x lineitem replica
# (same-session medians, evidence/sql_text_ab_r12.json). At 100 TB
# swap the exact distinct for approx_count_distinct(c) (HLL,
# fixed-size state; hll_error_audit pins its error envelope).
register_sql("table_profile", _profile_sql(), covers=("[EXT]-profile",))
