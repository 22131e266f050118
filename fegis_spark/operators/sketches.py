"""Sketch-then-verify operators ([EXT]): bounded-memory streaming
summaries whose candidate sets are re-verified exactly, so the final
output is deterministic (and oracle-checkable) even though the sketch
itself is partition-order-dependent.

`heavy_hitters`: distributed Misra-Gries. Per partition, a mergeable
MG summary with `k` counters (Agarwal et al., "Mergeable Summaries",
PODS'12: merge batch counts, then subtract the (k+1)-th largest value
and drop non-positives — error ≤ n_p/(k+1)). Any corpus item with
count > n/k exceeds n_p/k in at least one partition (averaging
argument), and n_p/k > n_p/(k+1) ≥ MG error, so every true heavy
hitter survives some partition summary. The union of candidates
(≤ k·partitions rows) is broadcast back for an exact recount; the
strict `cnt · k > n` filter then yields EXACTLY the true heavy
hitters — sketch nondeterminism cannot leak into the output.

100 TB posture: two corpus passes (sketch+total, then recount), both
map-side — the only shuffles are the tiny candidate union and the
recount hash-agg keyed on ≤ k·partitions distinct values. No corpus
persist, no driver materialization beyond the candidate list.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fegis_spark.queries.sqlfrag import md5_int_sql


def _mg_partition(cap: int):
    """mapInPandas op: one mergeable Misra-Gries summary per partition.

    Emits the surviving counters as (t, wt) rows plus one sentinel row
    (t=NULL, wt=partition row count) so the corpus total comes out of
    the same scan."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary = pd.Series(dtype="int64")
        n_p = 0
        for pdf in batches:
            col = pdf.iloc[:, 0].dropna()
            n_p += len(col)
            summary = summary.add(col.value_counts(), fill_value=0)
            if len(summary) > cap:
                kth = summary.nlargest(cap + 1).iloc[-1]
                summary = summary - kth
                summary = summary[summary > 0]
        out = pd.DataFrame(
            {"t": list(summary.index) + [None], "wt": list(summary.astype("int64")) + [n_p]}
        )
        yield out

    return op


def heavy_hitters(items: DataFrame, col: str = "t", k: int = 50) -> DataFrame:
    """Exact heavy hitters (count·k > total strictly) of `items[col]`
    via distributed Misra-Gries candidates + exact recount.

    Returns (t, cnt) with cnt the exact corpus count, ordered
    (cnt DESC, t) — a total order."""
    stream = items.select(F.col(col).alias("t"))
    sketch = stream.mapInPandas(_mg_partition(k), "t string, wt long")
    candidates = sketch.where(F.col("t").isNotNull()).select("t").distinct()
    total = sketch.where(F.col("t").isNull()).agg(F.sum("wt").alias("n"))
    exact = (
        stream.join(F.broadcast(candidates), "t")  # bcast-ok: <=k x partitions MG candidates
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))  # bcast-ok: 1-row agg
        .where(F.col("cnt") * k > F.col("n"))
        .select("t", "cnt")
        .orderBy(F.desc("cnt"), "t")
    )


#: Count-Min Sketch geometry: d independent hash rows × w buckets.
#: With w=512 the additive overestimate bound is e·n/w per row and the
#: min over d=4 rows holds with prob ≥ 1-e^-4 — at any corpus size the
#: sketch stays d·w counters per partition before the merge.
CMS_D = 4
CMS_W = 512


def cms_key_sql(col: str, row: str) -> str:
    """The string hash row `row` hashes item `col` as: 'row:item'
    (independent rows come from the salt). The bucket is the md5
    recipe of it mod w. One spelling, valid in both SQL dialects."""
    return f"CAST({row} AS STRING) || ':' || CAST({col} AS STRING)"


def cms_build(
    items: DataFrame,
    col: str = "t",
    d: int = CMS_D,
    w: int = CMS_W,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min Sketch of `items[col]` as a (r, bucket, cnt) table
    (≤ d·w rows). The stream fans out ×d map-side, but partial
    aggregation caps the shuffle at partitions·d·w rows — the whole
    point of a CMS at 100 TB: corpus-size input, constant-size state.
    Deterministic (md5 hashing, integer counts) and therefore
    oracle-checkable, unlike a seeded-RNG sketch.

    `weight_col` (r14 optimization): the bucket is a pure function of
    (r, value), so a PRE-AGGREGATED (value, count) table produces the
    bit-identical sketch — cnt(r, b) = Σ_{v: bucket(v,r)=b} count(v) —
    while hashing each distinct value d times instead of each stream
    INSTANCE d times (guide §1.2 / §2.3: the minhash distinct-gram
    convention applied to the sketch build). Pass the count column
    name to take that path; callers that already count the stream
    (cms_heavy_hitters_audit's exact side) get the sketch nearly free."""
    spark = items.sparkSession
    rows = spark.range(d).select(F.col("id").cast("int").alias("r"))
    wt = (
        F.sum(weight_col).cast("bigint")
        if weight_col
        else F.count(F.lit(1)).cast("bigint")
    )
    cols = [F.col(col).alias("t")] + (
        [F.col(weight_col)] if weight_col else []
    )
    stream = items.select(*cols)
    return (
        stream.crossJoin(F.broadcast(rows))  # bcast-ok: d hash rows
        .select(
            "r",
            F.expr(f"{md5_int_sql(cms_key_sql('t', 'r'), 8, spark=True)} % {w}").alias(
                "bucket"
            ),
            *([weight_col] if weight_col else []),
        )
        .groupBy("r", "bucket")
        .agg(wt.alias("cnt"))
    )


def cms_estimate(cms: DataFrame, terms: DataFrame, col: str = "t",
                 d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Point-query the sketch for every row of `terms[col]`:
    est = min over hash rows of the addressed counter (missing
    counter = 0). Both sides of the join are tiny (≤ d·w sketch,
    |terms|·d probes) — broadcast, never a corpus shuffle."""
    spark = terms.sparkSession
    rows = spark.range(d).select(F.col("id").cast("int").alias("r"))
    probes = terms.select(F.col(col).alias("t")).crossJoin(
        F.broadcast(rows)  # bcast-ok: d hash rows
    ).selectExpr("t", "r", f"{md5_int_sql(cms_key_sql('t', 'r'), 8, spark=True)} % {w} AS bucket")
    return (
        probes.join(F.broadcast(cms), ["r", "bucket"], "left")  # bcast-ok: <=d*w sketch counters
        .groupBy("t")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est_n"))
    )
