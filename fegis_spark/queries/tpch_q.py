"""TPC-H-shape relational queries over the star schema (SURVEY.md
§2.4/§2.6 extension surface).

The testdata is TPC-H-ish (TESTDATA.md); the catalog already carries
Q1/Q3/Q4/Q5/Q14/Q18 shapes. This module adds the remaining shapes the
available columns support — Q6, Q7, Q8, Q10, Q13, Q17, Q19 and a
Q22-shape — because together they exercise every decorrelation
pattern Catalyst must get right at 100 TB: scalar subqueries become
broadcast 1-row joins, correlated EXISTS becomes semi/anti joins,
per-group AVG thresholds become agg + join-back, and disjunctive
join predicates stay pushed into the scan. (Q2/Q11/Q16/Q20 need
partsupp, Q12 needs l_shipmode, Q21 needs l_commitdate/l_receiptdate
— columns the driver's generator does not emit.)

Each query is one SQL text run by both engines (register_sql), except
volume_shipping: its builder pre-joins the nation-filtered supplier
and customer dims under size-gated broadcast hints, which SQL cannot
gate (the naive join order read ~25% slower at sf0.1, the pre-joined
CTEs plan a sort-merge join). Determinism discipline per CLAUDE.md: money sums through the decimal
lattice (REV), ratios rounded to 6 dp, every top-k totally ordered,
AVG thresholds computed as decimal-sum / count so the comparison
input is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register, register_sql
from fegis_spark.model import load_table, maybe_broadcast, table_bytes
from fegis_spark.queries.aggregates import dsum

# Decimal-exact revenue term used identically in all oracles here.
REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))"


# TPC-H Q6 shape: pure filter + global agg, zero joins. The value
# at 100 TB is the scan: all three predicates and the 3-column
# projection push into the parquet reader (PushedFilters), so the
# exchange carries one partial-agg row per task. The per-row product
# is IEEE double on both engines; the sum goes through the decimal
# lattice.
register_sql(
    "revenue_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE)
             AS forecast_revenue,
           COUNT(*) AS n_items
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    covers=("§2.4-agg", "F5"),
)


@register(
    "volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM({REV}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    covers=("§2.6-joins", "§2.4-agg"),
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. Both nation filters are applied on the *dim* sides
    before the fact joins, so supplier and customer arrive pre-pruned
    to ~1/25 of their rows; their broadcast hints are size-gated
    (both tables scale with the corpus — over the gate AQE decides);
    lineitem↔orders is the only fact-fact join. The disjunctive pair condition runs post-join on
    two tiny dim columns."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))  # bcast-ok: 25 nations
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))  # bcast-ok: 25 nations
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            maybe_broadcast(supp, table_bytes(sf_dir, "supplier")),
            li.l_suppkey == supp.s_suppkey,
        )
        .join(
            maybe_broadcast(cust, table_bytes(sf_dir, "customer")),
            orders.o_custkey == cust.c_custkey,
        )
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# TPC-H Q8 shape: one supplier nation's share of PROMO-part
# revenue sold into ASIA, by year. The conditional-sum-over-total
# ratio is a single grouped aggregate — no second pass. Part is
# filtered to PROMO before joining, customers are pruned to the
# ASIA region through broadcast nation/region (schema-bounded), and
# the supplier nation arrives as a dim column the CASE inspects;
# part, customer and supplier carry no broadcast hint (corpus-scaled
# sides — the size threshold, AQE at runtime, decides). Decimal sums
# on both engines; the ratio alone is IEEE, rounded to 6 dp.
register_sql(
    "market_share",
    f"""
    SELECT ship_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
           CAST(SUM(vol) AS DOUBLE) AS total_volume
    FROM (
      SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
             sn.n_name AS supp_nation,
             {REV} AS vol
      FROM {{lineitem}} l
      JOIN {{part}} p     ON l.l_partkey = p.p_partkey
      JOIN {{orders}} o   ON l.l_orderkey = o.o_orderkey
      JOIN {{customer}} c ON o.o_custkey = c.c_custkey
      JOIN {{nation}} cn  ON c.c_nationkey = cn.n_nationkey
      JOIN {{region}} r   ON cn.n_regionkey = r.r_regionkey
      JOIN {{supplier}} s ON l.l_suppkey = s.s_suppkey
      JOIN {{nation}} sn  ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    GROUP BY ship_year
    """,
    covers=("§2.6-joins", "§2.4-agg"),
)


# TPC-H Q10 shape: top-20 customers by returned-item revenue in a
# one-year window. The returnflag filter prunes lineitem at the scan
# and the orderdate filter prunes orders before the fact-fact join;
# customer+nation broadcast. orderBy+limit compiles to
# TakeOrderedAndProject — a per-partition heap then a 20-row driver
# merge, never a global sort. Tiebreak on c_custkey totalizes the
# order.
register_sql(
    "returned_item_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM {{lineitem}} l
    JOIN {{orders}} o   ON l.l_orderkey = o.o_orderkey
    JOIN {{customer}} c ON o.o_custkey = c.c_custkey
    JOIN {{nation}} n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    covers=("§2.6-joins", "O3"),
)


# TPC-H Q13 shape: distribution of per-customer order counts,
# counting zero-order customers. Instead of LEFT JOIN on raw orders
# (shuffles the full fact with customer payload attached), aggregate
# orders per custkey first — the shuffle carries (custkey, count)
# pairs — then left-join customer to the counts and coalesce misses
# to 0. Same answer, one fact-wide shuffle less (the plain LEFT JOIN
# on raw orders read ~30% slower at sf0.1); the priority filter sits
# inside the aggregated side, so the outer join keeps every customer.
register_sql(
    "customer_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT COALESCE(o.n, 0) AS n_orders
      FROM {customer} c
      LEFT OUTER JOIN (
        SELECT o_custkey, COUNT(*) AS n FROM {orders}
        WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey
      ) o ON c.c_custkey = o.o_custkey
    )
    GROUP BY n_orders
    """,
    covers=("§2.6-outer", "§2.4-agg"),
)


# TPC-H Q17 shape: revenue of below-avg-quantity line items for
# one brand — the classic correlated scalar AVG subquery,
# decorrelated by hand into agg + join-back. The brand filter cuts
# part to ~1/25 and broadcasts under the size threshold, so
# lineitem is pruned before any shuffle; the per-part threshold table is tiny and broadcasts into
# the verify join. AVG is computed as decimal-sum / count so the
# threshold is bit-identical across engines (plain double AVG is
# partition-order-dependent).
register_sql(
    "small_qty_order_revenue",
    """
    WITH brand_parts AS (
      SELECT p_partkey FROM {part} WHERE p_brand = 'Brand#13'
    ),
    li_brand AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM {lineitem} l JOIN brand_parts p ON l.l_partkey = p.p_partkey
    ),
    thresholds AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*)) AS qty_threshold
      FROM li_brand GROUP BY l_partkey
    )
    SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0, 6)
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM li_brand l
    JOIN thresholds t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_threshold
    """,
    covers=("§2.6-joins", "§2.4-agg"),
)


# TPC-H Q19 shape: OR-of-ANDs spanning both join sides. The
# single-side implications are extracted and pushed below the join —
# part pre-filters to the union of the three brand/size envelopes
# (broadcastable), lineitem to the union of the quantity ranges
# (reaches the parquet scan) — and the full disjunction re-checks
# post-join. Catalyst extracts each side's implied disjunction from
# the OR-of-ANDs (pinned by the PushedFilters row in PLANS.md).
register_sql(
    "disjunctive_discount_revenue",
    f"""
    SELECT CAST(SUM({REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
    FROM {{lineitem}} l JOIN {{part}} p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    covers=("§2.6-joins", "F8", "F9"),
)


# TPC-H Q22 shape (minus the phone-prefix predicate the generator
# omits): customers with above-global-average positive balance and
# no orders, per nation. Two decorrelations in one query: the global
# scalar AVG becomes a 1-row broadcast cross join (a bounded work
# multiplier, not a shuffle; as a scalar subquery it runs as its own
# job first and read ~35% slower at sf0.1), and NOT EXISTS becomes a
# left_anti join against the custkey projection of orders. The
# average is decimal-sum / count — bit-identical across engines — so
# the > comparison cannot flip on a last-ulp difference.
register_sql(
    "idle_high_balance_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
      FROM {customer} WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM {customer} c CROSS JOIN avg_bal a
    WHERE c.c_acctbal > a.v
      AND NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    covers=("§2.6-anti", "§2.4-agg"),
)
