"""Join / window / set-op catalog queries (SURVEY.md §2.5, §2.6, §2.9).

The reference needs only the lineage self-join (J1, covered in
lineage_q); everything here is the built-in relational surface a user
of the extended engine gets, each shaped for scale: dims broadcast,
facts shuffle once on their join key, top-k per group uses windows
(no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register, register_sql
from fegis_spark.model import load_table, maybe_broadcast, table_bytes
from fegis_spark.queries.sqlfrag import md5_int_sql, ts_sql


# TPC-H Q5 shape: fact-to-fact join on orderkey, then hash joins for
# customer and the region-filtered nation dimension. nation (25 rows)
# and region (5 rows) are schema-bounded and pre-joined (the nr CTE),
# so the fact side meets one tiny nation build side instead of two;
# customer scales WITH the corpus and carries no hint — the size
# threshold (AQE at runtime) picks its strategy. Pre-joining customer
# into the CTE as well plans a sort-merge join: without CBO a join's
# size estimate is the product of its inputs, so the customer x
# nation x region side never fits the broadcast threshold (measured
# slower at sf0.1, evidence/sql_text_ab_r11.json).
register_sql(
    "revenue_by_nation",
    """
    WITH nr AS (
      SELECT n.n_nationkey, n.n_name
      FROM {nation} n JOIN {region} r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('ASIA', 'EUROPE')
    )
    SELECT nr.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM {lineitem} l
    JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    JOIN {customer} c ON o.o_custkey = c.c_custkey
    JOIN nr ON c.c_nationkey = nr.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY nr.n_name
    """,
    covers=("§2.6-joins", "J1-general"),
    bench=True,
)


# Top-K per group: the same window pattern the KNN join uses —
# partition-local heap, single shuffle on the group key. The rank
# filter sits directly on row_number, so the plan keeps the
# WindowGroupLimit pushdown (pinned in tests/test_plans.py); rnk is
# cast to BIGINT after it (Spark's row_number is INT).
register_sql(
    "top_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             -- panel-ok: WindowGroupLimit pushdown pinned (rank-filter family)
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
    ) WHERE rnk <= 3
    """,
    covers=("§2.5-topk", "K8-pattern"),
)


# left_semi (EXISTS) + left_anti (NOT EXISTS) + union — the
# existence joins never materialize the probe side's payload.
register_sql(
    "semi_anti_join",
    """
    SELECT 'with_orders' AS kind, COUNT(*) AS n FROM {customer} c
    WHERE EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS kind, COUNT(*) AS n FROM {customer} c
    WHERE NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    """,
    covers=("§2.6-semi", "§2.6-anti", "§2.9-union"),
)


# Range join: equi-key + interval predicate. The equi key keeps it
# a hash/sort-merge join (the range is a post-join filter) — the
# 100 TB-safe form of an interval join; a pure range join would need
# bucketized keys.
register_sql(
    "range_join_ship_window",
    """
    SELECT o.o_orderkey, COUNT(*) AS n_shipped_30d
    FROM {orders} o JOIN {lineitem} l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
    covers=("§2.6-range",),
)


# INTERSECT / EXCEPT / UNION ALL over nation keys.
register_sql(
    "nation_set_ops",
    """
    SELECT 'both' AS kind, n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM {customer}
      INTERSECT
      SELECT DISTINCT s_nationkey FROM {supplier}
    )
    UNION ALL
    SELECT 'customer_only' AS kind, n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM {customer}
      EXCEPT
      SELECT DISTINCT s_nationkey FROM {supplier}
    )
    """,
    covers=("§2.9-intersect", "§2.9-except", "§2.9-union"),
)


# Window frames: 4-row moving average + running decimal sum per
# session. The 4-row avg sums at most 4 doubles in deterministic
# frame order → identical IEEE result on both engines; the unbounded
# running sum goes through decimal.
register_sql(
    "moving_avg_frame",
    lambda *, spark: f"""
    SELECT event_id, user_id,
           -- grpwin-ok: user_id cardinality scales with input
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY {ts_sql(spark=spark)}, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg,
           -- grpwin-ok: user_id cardinality scales with input
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id
                                  ORDER BY {ts_sql(spark=spark)}, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
    FROM {{events}}
    """,
    covers=("§2.5-frames",),
)


# Pivot with explicit values (never let pivot infer values at
# scale — that's an extra distinct pass over 100 TB).
register_sql(
    "event_type_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
    FROM {events} GROUP BY user_id
    """,
    covers=("§2.4-pivot",),
)


@register(
    "asof_join_orders",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_totalprice, o_orderkey FROM (
        SELECT o_custkey, o_orderdate, o_totalprice, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    ), l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    )
    SELECT l.event_id, l.user_id,
           r.o_totalprice AS asof_o_totalprice,
           r.o_orderkey AS asof_o_orderkey
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.o_custkey AND l.ts >= r.o_orderdate
    """,
    covers=("§2.6-asof",),
)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] backward as-of join: for every event, the customer's most
    recent order at-or-before the event time — union+window form (one
    shuffle, no range join); DuckDB's native ASOF JOIN is the
    independent oracle."""
    from fegis_spark.operators.asof import asof_join_union

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice", "o_orderkey"
    )
    out = asof_join_union(
        ev, orders, key="user_id", left_ts="ts", right_ts="o_orderdate",
        payload=["o_totalprice", "o_orderkey"], right_key="o_custkey",
    )
    return out.select("event_id", "user_id", "asof_o_totalprice", "asof_o_orderkey")


# Exact interpolated percentiles (percentile_cont: Spark's exact
# percentile, DuckDB's quantile_cont); the approx path (GK sketch) is
# in quantile_error_audit, where its rank-error bound is value-checked.
# Emitted UNROUNDED: the interpolation is bitwise-identical
# cross-engine (pinned in tests/test_property_portable.py).
register_sql(
    "quantiles_by_type",
    """
    SELECT event_type,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p50,
           percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM {events} GROUP BY event_type
    """,
    covers=("§2.4-quantile",),
)


@register(
    "quantile_error_audit",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           round(quantile_cont(value, 0.49), 6) AS p50_lo,
           round(quantile_cont(value, 0.51), 6) AS p50_hi,
           round(quantile_cont(value, 0.94), 6) AS p95_lo,
           round(quantile_cont(value, 0.96), 6) AS p95_hi,
           TRUE AS p50_in_band,
           TRUE AS p95_in_band
    FROM events GROUP BY event_type
    """,
    covers=("§2.4-approx-quantile",),
)
def quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the sketch the exact quantile form trades
    against at 100 TB (single pass, mergeable, bounded memory) — as an
    error-bound audit (r5 verdict #4; replaces the former rows-only
    approx_quantiles, which this subsumes): the sketch guarantees RANK
    error <= 1/accuracy = 1e-4, so its
    returned value must lie between the exact interpolated quantiles
    at rank ±1% — a band 100× wider than the guarantee, checked as
    booleans the oracle asserts literally TRUE. The band edges are
    exact `percentile` values (Spark percentile == DuckDB
    quantile_cont, the pairing quantiles_by_type already certifies),
    so the exact side is fully value-checked and the sketch's claim is
    falsifiable cross-engine even though DuckDB cannot replay the GK
    sketch itself. One agg computes sketch and band edges in a single
    pass over the shared scan."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile_approx("value", 0.5, 10000).alias("a50"),
        F.percentile_approx("value", 0.95, 10000).alias("a95"),
        F.expr("percentile(value, 0.49)").alias("q49"),
        F.expr("percentile(value, 0.51)").alias("q51"),
        F.expr("percentile(value, 0.94)").alias("q94"),
        F.expr("percentile(value, 0.96)").alias("q96"),
    )
    return g.select(
        "event_type",
        "n",
        F.round("q49", 6).alias("p50_lo"),
        F.round("q51", 6).alias("p50_hi"),
        F.round("q94", 6).alias("p95_lo"),
        F.round("q96", 6).alias("p95_hi"),
        ((F.col("a50") >= F.col("q49")) & (F.col("a50") <= F.col("q51")))
        .alias("p50_in_band"),
        ((F.col("a95") >= F.col("q94")) & (F.col("a95") <= F.col("q96")))
        .alias("p95_in_band"),
    )


@register(
    "asof_join_tolerance",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch(CAST(ts AS TIMESTAMP)) AS tsd
      FROM events
    ),
    c AS (SELECT user_id, event_id, tsd FROM e WHERE event_type = 'click'),
    v AS (SELECT user_id, event_id AS v_event, tsd AS rtsd
          FROM e WHERE event_type = 'view')
    SELECT c.user_id, c.event_id,
           (SELECT v_event FROM v
            WHERE v.user_id = c.user_id
              AND v.rtsd <= c.tsd AND v.rtsd >= c.tsd - 3600
            ORDER BY v.rtsd DESC, v_event DESC LIMIT 1) AS asof_v_event
    FROM c
    """,
    covers=("§2.6-asof",),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 tolerance-bounded as-of: each click picks up the latest
    view by the same user within the preceding hour, NULL when the
    last view is older — merge_asof(tolerance=...) semantics, union +
    running-last_value plan (one shuffle on user_id, no range cross
    product). Tie at equal ts keeps the max payload (same tiebreak
    as the oracle's ORDER BY v_event DESC)."""
    from fegis_spark.operators.asof import asof_join_union

    ev = load_table(spark, sf_dir, "events").withColumn(
        "tsd", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "tsd"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("v_event"),
        F.col("tsd").alias("rtsd"),
    )
    out = asof_join_union(
        clicks, views, "user_id", "tsd", "rtsd", ["v_event"], tolerance=3600
    )
    return out.select("user_id", "event_id", "asof_v_event")


# §2.6 outer join: customers LEFT OUTER their order rollup, so
# customers with no orders survive with NULL-coalesced zeros — the
# canonical coverage/活跃度 report shape. Pre-aggregating orders
# BEFORE the join keeps the outer join's build side at |customers
# with orders| instead of |orders| (map-side combine first, join
# second — the scale-correct order).
register_sql(
    "outer_join_coverage",
    """
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spend
      FROM {orders} GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN p.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
           CAST(SUM(COALESCE(p.n_orders, 0)) AS BIGINT) AS total_orders,
           -- lint: allow R3 (decimal transit; COALESCE paren hides it from the regex)
           round(CAST(SUM(CAST(COALESCE(p.spend, 0.0) AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_spend
    FROM {customer} c LEFT OUTER JOIN per_cust p ON c.c_custkey = p.o_custkey
    GROUP BY c.c_mktsegment
    """,
    covers=("§2.6-outer",),
)


# §2.6 FULL OUTER snapshot reconciliation — the incremental-pipeline
# diff between two corpus snapshots (yesterday vs today): rows only in
# B are added, only in A removed, same key different payload changed.
# Snapshots are deterministic md5-bucket subsets of orders (A drops
# bucket 9, B drops bucket 0 and perturbs every 7th price). One
# equi-key full-outer join: both sides shuffle once on the key; at
# 100 TB you bucket both snapshots on the key
# (operators/scale.write_bucketed) and the join is co-located with no
# shuffle at all.
register_sql(
    "snapshot_diff",
    lambda *, spark: f"""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM {{orders}}
      WHERE {md5_int_sql('CAST(o_orderkey AS STRING)', 8, spark=spark)} % 10 < 9
    ), b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
      FROM {{orders}}
      WHERE {md5_int_sql('CAST(o_orderkey AS STRING)', 8, spark=spark)} % 10 > 0
    )
    SELECT change, COUNT(*) AS n FROM (
      SELECT CASE
               WHEN a.o_orderkey IS NULL THEN 'added'
               WHEN b.o_orderkey IS NULL THEN 'removed'
               WHEN a.o_totalprice <> b.o_totalprice OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
               ELSE 'unchanged' END AS change
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    ) GROUP BY change
    """,
    covers=("§2.6-outer", "§2.9-setops"),
)


# TPC-H Q3 shape: segment-filtered customers joined into orders
# (broadcast under the size threshold), fact-to-fact join to lineitem on orderkey, per-order
# revenue agg, top-10 by revenue. Both date filters push to the
# parquet scans; the only big exchange is the orderkey join + the
# per-order agg; orderBy+limit fuses to TakeOrderedAndProject.
# Ordering is on the DECIMAL-exact revenue (identical across
# engines) with (o_orderdate, l_orderkey) completing a total order.
register_sql(
    "shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM {customer} c
    JOIN {orders} o ON c.c_custkey = o.o_custkey
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    covers=("§2.6-joins", "O1", "O3"),
)


COPURCHASE_MIN_SUPPORT = 3


@register(
    "copurchase_pairs",
    oracle=f"""
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM pl a JOIN pl b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= {COPURCHASE_MIN_SUPPORT}
    """,
    covers=("§2.6-joins", "K8-pattern"),
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase pair mining (association rules, support
    >= 3 orders): ordered part pairs that recur across order baskets.

    Join-free shape: collect_set gathers each basket (dedup included,
    replacing a distinct pre-pass), pairs are generated IN-ROW by an
    array HOF — basket size is bounded (TPC-H <= 7 items/order, so
    <= C(7,2)=21 pairs, and the HOF's interpreted cost is capped by
    that same bound) — then one pair-keyed agg. Two exchanges total
    (basket agg + pair agg) vs three for the equivalent
    distinct + self-join formulation, and no join at all: at 100 TB
    the per-order co-location does the pairing for free."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    pairs = F.filter(
        F.flatten(
            F.transform(
                "parts",
                lambda x: F.transform(
                    "parts",
                    lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                ),
            )
        ),
        lambda s: s["part_a"] < s["part_b"],
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= COPURCHASE_MIN_SUPPORT)
    )


@register(
    "apply_changes",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
    ), src AS (
      SELECT doc_id, lang, n_chars,
             {md5_int_sql('CAST(doc_id AS VARCHAR)', 8, spark=False)} % 3 AS op3
      FROM documents WHERE doc_id % 2 = 1
    ), ups AS (
      SELECT CASE WHEN op3 = 0 THEN doc_id - 1 ELSE doc_id END AS key,
             lang, n_chars + 1000 AS new_chars
      FROM src WHERE op3 IN (0, 1)
    ), dels AS (
      SELECT doc_id - 1 AS key FROM src WHERE op3 = 2
    )
    SELECT COALESCE(u.key, b.doc_id) AS doc_id,
           COALESCE(u.lang, b.lang) AS lang,
           CASE WHEN u.key IS NOT NULL THEN u.new_chars ELSE b.n_chars END AS n_chars,
           CASE WHEN u.key IS NOT NULL AND b.doc_id IS NOT NULL THEN 'updated'
                WHEN u.key IS NOT NULL THEN 'inserted'
                ELSE 'kept' END AS row_status
    FROM base b FULL OUTER JOIN ups u ON b.doc_id = u.key
    WHERE NOT EXISTS (
      SELECT 1 FROM dels d WHERE d.key = COALESCE(u.key, b.doc_id)
    )
    """,
    covers=("§2.6-full-outer", "[EXT]-cdc"),
)
def apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CDC apply / MERGE-INTO semantics without a table format:
    a deterministic change batch folds into the base snapshot via ONE
    full-outer join on the key plus a broadcast anti-join for deletes
    — the incremental-corpus maintenance primitive when the store is
    plain parquet. Base = even doc ids; each odd id becomes an
    operation by md5 bucket%3 — update of its even neighbor, insert of
    a brand-new key, or delete of its even neighbor — so every output
    status (kept/updated/inserted) and the delete path all occur with
    real rows at every sf (each even key is targeted by at most its
    one odd neighbor: no conflicting ops by construction). At 100 TB:
    pre-bucket both sides by key (operators/scale.write_bucketed) and
    the full-outer co-locates shuffle-free; the delete-set anti-join
    hint is size-gated (real CDC delete batches are tiny, but THIS
    constructed set scales with the corpus — over the gate AQE picks
    the strategy)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket3 = F.expr(f"{md5_int_sql('CAST(doc_id AS STRING)', 8, spark=True)} % 3")
    base = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    src = docs.filter(F.col("doc_id") % 2 == 1).withColumn("op3", bucket3)
    ups = src.filter(F.col("op3").isin(0, 1)).select(
        F.when(F.col("op3") == 0, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .alias("key"),
        F.col("lang").alias("c_lang"),
        (F.col("n_chars") + 1000).alias("new_chars"),
    )
    dels = src.filter(F.col("op3") == 2).select((F.col("doc_id") - 1).alias("doc_id"))
    merged = base.join(ups, base.doc_id == ups.key, "full_outer").select(
        F.coalesce("key", "doc_id").alias("doc_id"),
        F.coalesce("c_lang", "lang").alias("lang"),
        F.when(F.col("key").isNotNull(), F.col("new_chars"))
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
        F.when(F.col("key").isNotNull() & F.col("doc_id").isNotNull(), "updated")
        .when(F.col("key").isNotNull(), "inserted")
        .otherwise("kept")
        .alias("row_status"),
    )
    return merged.join(
        maybe_broadcast(dels, table_bytes(sf_dir, "documents")),
        "doc_id",
        "left_anti",
    )


#: shared SCD2 interval CTE chain (state-change collapse -> validity
#: intervals) — interpolated by BOTH the history text and the as-of
#: snapshot text (anti-drift rule). ts is cast on both engines: the
#: outputs are TIMESTAMP.
_SCD2_CTE = """changes AS (
      SELECT user_id, event_type, ts, event_id FROM (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               -- grpwin-ok: user_id cardinality scales with input
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev
        FROM {events}
      ) WHERE prev IS NULL OR event_type <> prev
    ), intervals AS (
      SELECT user_id, event_type, ts AS valid_from,
             -- grpwin-ok: user_id cardinality scales with input
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS valid_to,
             -- grpwin-ok: user_id cardinality scales with input
             CASE WHEN lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) IS NULL THEN 1 ELSE 0 END AS is_current
      FROM changes
    )"""


# [EXT] SCD-type-2 history build: collapse each user's event
# stream into state-change validity intervals [valid_from, valid_to)
# — lag() drops repeats of the same state, lead() closes each
# interval at the next change (NULL = current row). Two windows over
# the same user partitioning (one exchange; the second window reuses
# the sort); the standard dimension-history reconstruction.
register_sql(
    "scd2_intervals",
    f"""
    WITH {_SCD2_CTE}
    SELECT user_id, event_type, valid_from, valid_to, is_current
    FROM intervals
    """,
    covers=("[EXT]-scd2", "§2.5-lead"),
)


#: literal as-of instant for the snapshot read: mid-range of the
#: events table's Jan-2024 span at every sf.
_SCD2_ASOF = "2024-01-15 00:00:00"


# [EXT] time-travel read over the SCD2 history: each user's state
# AS OF a literal instant — the interval covering T (valid_from <=
# T < valid_to, open current rows included). The consumer side of
# scd2_intervals: dimension history answers 'what did the world look
# like on Jan 15' without storing a snapshot per day. Both oracles
# interpolate ONE shared interval CTE, so the history recipe cannot
# drift from its reader.
#
# Scale: same one-exchange double window as scd2_intervals, then a
# pure filter — at a warehouse this is a partition-pruned read of
# the stored interval table instead.
register_sql(
    "scd2_asof_snapshot",
    f"""
    WITH {_SCD2_CTE}
    SELECT user_id, event_type AS state_at, valid_from
    FROM intervals
    WHERE valid_from <= TIMESTAMP '{_SCD2_ASOF}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_ASOF}')
    """,
    covers=("[EXT]-scd2-asof", "[EXT]-scd2", "§2.6-asof"),
)


# TPC-H Q14 shape: monthly promo-revenue share. The part side
# carries no broadcast hint (part scales with the corpus; the size
# threshold, at runtime AQE, picks the strategy), lineitem scans once with only 4
# columns read, and the month rollup is one agg shuffle; both sums
# ride DECIMAL(38,6) and the percentage divides in double on both
# engines.
register_sql(
    "promo_revenue",
    """
    SELECT CAST(ts_month AS DATE) AS month,
           100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                   ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
             AS promo_pct,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
             AS total_revenue
    FROM (
      SELECT date_trunc('month', CAST(l.l_shipdate AS TIMESTAMP)) AS ts_month,
             p.p_type, l.l_extendedprice, l.l_discount
      FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
    )
    GROUP BY ts_month
    """,
    covers=("§2.6-joins", "§2.4-agg"),
)


LARGE_ORDER_QTY = 150


# TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
# threshold, joined back to their customers. The HAVING filter runs
# on the aggregated (small) side BEFORE any join — the surviving
# order set is tiny in practice but corpus-proportional in the
# worst case, so neither it nor the customer side carries a
# broadcast hint: the size threshold (AQE at runtime) picks the
# strategy. The lineitem agg is the only corpus-scale
# exchange; decimal-exact quantity sums.
register_sql(
    "large_volume_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
      FROM {{lineitem}} GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > {LARGE_ORDER_QTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, b.total_qty
    FROM big b
    JOIN {{orders}} o ON o.o_orderkey = b.l_orderkey
    JOIN {{customer}} c ON c.c_custkey = o.o_custkey
    """,
    covers=("§2.6-joins", "§2.4-agg"),
)


# TPC-H Q4 shape: per-priority counts of orders with at least one
# late-shipping lineitem — an EXISTS expressed as left_semi, so the
# probe side's payload never materializes and each order contributes
# once regardless of how many lineitems match. One semi-join exchange
# + one small agg.
register_sql(
    "order_priority_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM {orders} o
    WHERE EXISTS (
      SELECT 1 FROM {lineitem} l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
    covers=("§2.6-semi", "§2.4-agg"),
)


#: FK edges audited by fk_integrity_audit: (child, fk, parent, pk)
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


# Referential-integrity audit over every FK edge of the star
# schema: per edge, child row count and orphan count (children whose
# FK has no parent) — the data-quality gate a warehouse runs after
# every load, and the check that certifies the join results above
# aren't silently dropping rows. Each edge is one left_anti join
# (existence probe — the parent's payload never materializes). No
# parent carries a broadcast hint: schema-bounded parents (nation,
# region) fall under the size threshold at any scale, corpus-scaled
# parents (orders, part, customer) only while small — over it the
# anti-join shuffles on the key, which is the correct 100 TB plan.
# Each edge's two 1-row counts meet in a broadcast cross join (as
# scalar subqueries each would run as its own job first); the six
# 1-row results union. Plan shape pinned in tests/test_plans.py.
register_sql(
    "fk_integrity_audit",
    " UNION ALL ".join(
        f"""
    SELECT '{child}.{fk}' AS edge, n_child, n_orphans
    FROM (SELECT COUNT(*) AS n_child FROM {{{child}}}) t
    CROSS JOIN (
      SELECT COUNT(*) AS n_orphans FROM {{{child}}} c
      WHERE NOT EXISTS (SELECT 1 FROM {{{parent}}} p WHERE p.{pk} = c.{fk})
    ) o
    """
        for child, fk, parent, pk in FK_EDGES
    ),
    covers=("§2.6-anti", "§2.9-union"),
)


#: triangle-count edge set: co-purchase pairs recurring in >= 2 orders
#: (support 3 leaves the graph triangle-free at every sf — vacuous).
TRI_MIN_SUPPORT = 2


@register(
    "copurchase_triangles",
    oracle=f"""
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT pa AS v FROM edges UNION ALL SELECT pb FROM edges
      ) GROUP BY v
    ),
    tri AS (
      SELECT COUNT(*) AS n FROM edges e1
      JOIN edges e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
      JOIN edges e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n FROM tri) AS n_triangles,
           round(3.0 * (SELECT n FROM tri)
                 / nullif((SELECT SUM(d * (d - 1) / 2) FROM deg), 0), 6)
             AS global_clustering
    """,
    covers=("[EXT]-graph-triangles", "§2.6-joins"),
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] triangle counting + global clustering coefficient on the
    co-purchase graph — the standard graph-quality statistic, computed
    with the degree-oriented join algorithm (Cohen 2009 / Suri &
    Vassilvitskii 2011): every edge is oriented from lower to higher
    (degree, id) rank, so each node's out-degree is O(sqrt(m)) and the
    wedge self-join is bounded by m^1.5 TOTAL regardless of hub skew —
    the id-only orientation the oracle uses for its (invariant) count
    would square the hub degree instead. Edges, the degree table and
    the oriented edge list all persist (multi-consumer rule — the
    basket pairing scans lineitem once, and o1/o2/closing share one
    orientation join instead of re-running it); the degree table
    broadcasts into the orientation.
    Triangle count is orientation-invariant, which is what lets the
    oracle use the simple form."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    prs = F.filter(
        F.flatten(
            F.transform(
                "parts",
                lambda x: F.transform(
                    "parts", lambda y: F.struct(x.alias("pa"), y.alias("pb"))
                ),
            )
        ),
        lambda s: s["pa"] < s["pb"],
    )
    edges = (
        baskets.select(F.explode(prs).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= TRI_MIN_SUPPORT)
        .select("pa", "pb")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r14: three consumers (da, db, the stats wedge count) — persist
    # or the degree aggregation re-executes per consumer
    deg = (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # degree table: one (v, d) row per distinct part in a frequent
    # edge — bounded by |part|, which scales with the corpus, so the
    # hint is size-gated on the part table's bytes
    pbytes = table_bytes(sf_dir, "part")
    da = maybe_broadcast(
        deg.select(F.col("v").alias("pa"), F.col("d").alias("d_a")), pbytes
    )
    db = maybe_broadcast(
        deg.select(F.col("v").alias("pb"), F.col("d").alias("d_b")), pbytes
    )
    ranked = edges.join(da, "pa").join(db, "pb")
    a_lo = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("pa") < F.col("pb"))
    )
    # r14: three consumers (o1, o2, closing) — persist or the
    # edges-deg orientation join re-executes per consumer
    oriented = ranked.select(
        F.when(a_lo, F.col("pa")).otherwise(F.col("pb")).alias("lo"),
        F.when(a_lo, F.col("pb")).otherwise(F.col("pa")).alias("hi"),
        F.when(a_lo, F.col("d_b")).otherwise(F.col("d_a")).alias("dh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    o1 = oriented.select(
        F.col("lo"), F.col("hi").alias("h1"), F.col("dh").alias("dh1")
    )
    o2 = oriented.select(
        F.col("lo"), F.col("hi").alias("h2"), F.col("dh").alias("dh2")
    )
    wedges = o1.join(o2, "lo").where(
        (F.col("dh1") < F.col("dh2"))
        | ((F.col("dh1") == F.col("dh2")) & (F.col("h1") < F.col("h2")))
    )
    closing = oriented.select(
        F.col("lo").alias("h1"), F.col("hi").alias("h2")
    )
    tri = wedges.join(closing, ["h1", "h2"]).agg(
        F.count("*").alias("n_triangles")
    )
    stats = edges.agg(F.count("*").alias("n_edges")).crossJoin(  # bcast-ok: 1-row aggs both sides
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(tri))  # bcast-ok: 1-row agg
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # nullif: a wedge-free graph yields NULL on both engines
            # instead of Spark's ANSI DIVIDE_BY_ZERO throw.
            F.round(
                3.0 * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0)),
                6,
            ).alias("global_clustering"),
        )
    )


#: PageRank geometry: symmetric co-purchase graph (support >= 2),
#: damping 0.85 as a LITERAL on both sides (derived constants diverge
#: in IEEE — CLAUDE.md), 5 unrolled iterations, top-20 output.
PR_DAMP = "0.85"
PR_BASE = "0.15"
PR_ITERS = 5
PR_TOPK = 20


def _pagerank_oracle() -> str:
    its = []
    prev = "it0"
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
    it{k} AS MATERIALIZED (
      SELECT n.v,
             {PR_BASE} / cnt.n
               + {PR_DAMP} * CAST(COALESCE(SUM(
                   CAST(p.pr / d.d AS DECIMAL(38,18))), 0) AS DOUBLE) AS pr
      FROM nodes n CROSS JOIN cnt
      LEFT JOIN sym e ON e.dst = n.v
      LEFT JOIN {prev} p ON p.v = e.src
      LEFT JOIN deg d ON d.v = e.src
      GROUP BY n.v, cnt.n
    )""")
        prev = f"it{k}"
    return f"""
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ),
    sym AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL SELECT pb, pa FROM edges
    ),
    nodes AS (SELECT DISTINCT src AS v FROM sym),
    deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
    cnt AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (SELECT v, 1.0 / cnt.n AS pr FROM nodes CROSS JOIN cnt),
    {','.join(its)}
    SELECT v AS part, round(pr, 12) AS pagerank
    FROM it{PR_ITERS}
    ORDER BY pagerank DESC, part LIMIT {PR_TOPK}
    """


@register(
    "copurchase_pagerank",
    oracle=_pagerank_oracle(),
    covers=("[EXT]-graph-pagerank", "§2.6-joins"),
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PageRank on the symmetric co-purchase graph — a fixed
    5-iteration power sweep, fully oracle-checked: iterative linear
    algebra joins the engine's deterministic surface because every
    neighbor-sum goes through the DECIMAL(38,18) lattice
    (partition-order-proof; 6dp money transit is too coarse for
    rank mass ~1/n) and the damping constants are literals on both
    sides. Per iteration: one edge→rank broadcast-or-shuffle join +
    one hash agg on dst — the exact plan a 100 TB PageRank runs, just
    with checkpoint-per-round added (see connected_components) when
    the iteration count grows. Edges/degrees persist across sweeps;
    top-20 via TakeOrderedAndProject with a part-id tiebreak."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    prs = F.filter(
        F.flatten(
            F.transform(
                "parts",
                lambda x: F.transform(
                    "parts", lambda y: F.struct(x.alias("pa"), y.alias("pb"))
                ),
            )
        ),
        lambda s: s["pa"] < s["pb"],
    )
    edges = (
        baskets.select(F.explode(prs).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nn"))
        .where(F.col("nn") >= TRI_MIN_SUPPORT)
        .select("pa", "pb")
    )
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = sym.select(F.col("src").alias("v")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # r14: deg has PR_ITERS consumers (one join per sweep) — without
    # the persist the degree aggregation subtree re-executes inside
    # every iteration of the single final action's DAG
    deg = sym.groupBy("src").agg(F.count("*").alias("d")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # r14: node count hoisted through a driver round-trip (the r9
    # convention; an exact int, so 1.0/n and base/n are the identical
    # IEEE divisions) — the 1-row agg subtree + its broadcast used to
    # re-evaluate in all PR_ITERS+1 consumers
    n = F.lit(nodes.count())
    pr = nodes.select("v", (F.lit(1.0) / n).alias("pr"))
    base, damp = float(PR_BASE), float(PR_DAMP)
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(pr.withColumnRenamed("v", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("v"),
                (F.col("pr") / F.col("d")).cast("decimal(38,18)").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        pr = (
            nodes.join(contrib, "v", "left")
            .select(
                "v",
                (
                    F.lit(base) / n
                    + F.lit(damp) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.select(F.col("v").alias("part"), F.round("pr", 12).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("part"))
        .limit(PR_TOPK)
    )


#: shared distinct (order, part) CTE for the co-purchase family.
_PL_CTE = "pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"


@register(
    "basket_association_rules",
    oracle=f"""
    WITH {_PL_CTE},
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM pl),
    ic AS (SELECT l_partkey, COUNT(*) AS n_item FROM pl GROUP BY 1),
    pc AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {COPURCHASE_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_ab,
           ia.n_item AS n_a, ib.n_item AS n_b,
           n_ab / CAST(t.n AS DOUBLE) AS support,
           n_ab / CAST(ia.n_item AS DOUBLE) AS conf_a_to_b,
           n_ab / CAST(ib.n_item AS DOUBLE) AS conf_b_to_a,
           (n_ab * CAST(t.n AS DOUBLE))
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
             AS lift
    FROM pc
    JOIN ic ia ON pc.part_a = ia.l_partkey
    JOIN ic ib ON pc.part_b = ib.l_partkey
    CROSS JOIN tot t
    """,
    covers=("[EXT]-association-rules", "[EXT]-copurchase"),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] association-rule mining over order baskets: for every
    frequent co-purchase pair, support, both directed confidences, and
    lift — the classic market-basket triple (Agrawal & Srikant 1994)
    that turns raw pair counts into 'buyers of A are k× likelier to
    buy B'. lift > 1 = genuine affinity; ~1 = popularity coincidence.

    Scale: ONE persisted basket table (collect_set per order) feeds
    all three consumers — in-row HOF pairing (bounded <= C(7,2) per
    basket, no join), per-item order counts, and the 1-row order
    total; item counts are a dimension-sized broadcast onto the pair
    table; every metric is an unrounded bit-identical IEEE ratio of
    exact integers."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs_arr = F.filter(
        F.flatten(
            F.transform(
                "parts",
                lambda x: F.transform(
                    "parts",
                    lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                ),
            )
        ),
        lambda s: s["part_a"] < s["part_b"],
    )
    pc = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= COPURCHASE_MIN_SUPPORT)
    )
    ic = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n"))
    # per-part item counts — one row per distinct part, which scales
    # with the corpus: size-gate the hint on the part table's bytes
    pbytes = table_bytes(sf_dir, "part")
    ia = maybe_broadcast(
        ic.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")),
        pbytes,
    )
    ib = maybe_broadcast(
        ic.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")),
        pbytes,
    )
    return (
        pc.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(tot))  # bcast-ok: 1-row agg
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            # UNROUNDED exact-integer ratios (bit-identical IEEE
            # ops); see CLAUDE.md on the round(k/n, 6) midpoint class
            (F.col("n_ab") / F.col("n").cast("double")).alias("support"),
            (F.col("n_ab") / F.col("n_a").cast("double")).alias("conf_a_to_b"),
            (F.col("n_ab") / F.col("n_b").cast("double")).alias("conf_b_to_a"),
            (
                (F.col("n_ab") * F.col("n").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )
