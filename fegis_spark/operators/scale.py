"""Scale helpers ([EXT]): skew-safe aggregation, bucketed layouts.

These encode the 100 TB playbook as reusable operators:

* ``salted_count_agg`` — two-phase aggregation for skewed keys: phase 1
  shuffles on (key, salt) spreading a hot key over `salt_buckets`
  reducers, phase 2 merges the partials on the key alone (now tiny).
  Equivalent results to a plain groupBy, proven in tests.
* ``write_bucketed`` / ``read_bucketed`` — bucketBy table layout so
  later equi-joins/aggregations on the bucket key are co-located
  (no shuffle; Catalyst sees the bucketing spec).
* AQE note: spark.sql.adaptive.skewJoin handles skewed *joins* at
  runtime; salting remains the tool for skewed *aggregations* with
  high-cardinality combiners (e.g. collect_list/exact distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fegis_spark.queries.sqlfrag import md5_int_sql


def salted_count_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe count + decimal-exact sum per key.

    Phase 1: groupBy(keys + salt) — partial rows spread evenly even if
    one key holds most of the data. Phase 2: merge partials per key.
    Both phases are map-side-combinable; total shuffle bytes ≈ the
    plain plan's, but no reducer receives a whole hot key.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("__salt")
    phase1 = (
        df.select(*keys, F.col(value_col), salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("__s"),
        )
    )
    return (
        phase1.groupBy(*keys)
        .agg(
            F.sum("__n").alias("n"),
            F.sum("__s").cast("double").alias("total"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist with a bucketed layout: joins/aggs on `bucket_col`
    against another table bucketed the same way skip the shuffle."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def pack_greedy_sharded(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    weight_col: str,
    budget: int,
    shards: int = 16,
) -> DataFrame:
    """Hierarchical token-budget packing — the parallel form of the
    per-key greedy cumsum pack (queries/pipeline_q.py:pack_sequences),
    which at 100 TB would serialize each key's running sum through one
    task (SCALE.md "Skew").

    Phase 1: rows hash into `shards` sub-streams per key; each shard
    runs the greedy pack independently (windows over (key, shard) —
    `shards`× the parallelism). Phase 2: per-(key, shard) pack counts
    (tiny: one row per shard) get prefix-summed per key and broadcast
    back, renumbering local packs into a globally unique, contiguous
    pack_id per key.

    Same invariants as the sequential form — pack weight ≤ budget +
    one overflowing row, ids contiguous from 0 per key — but pack
    *membership* differs (documented trade for parallelism).

    Returns df + [shard, local_pack, pack_id].
    """
    # portable md5 shard (same recipe as the split/sample buckets) so
    # the whole hierarchical pack is reproducible on any engine —
    # which is also what lets the catalog query oracle-check it
    shard = F.expr(
        f"{md5_int_sql(f'CAST({order_col} AS STRING)', 8, spark=True)} % {shards}"
    )
    base = df.withColumn("shard", shard)
    w = (
        # grpwin-ok: (key, shard) — n_shards is the scale knob of the md5 sub-stream sharding (docstring)
        Window.partitionBy(*key_cols, "shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "local_pack",
        F.floor(
            F.coalesce(F.sum(weight_col).over(w), F.lit(0)) / float(budget)
        ).cast("long"),
    )
    counts = local.groupBy(*key_cols, "shard").agg(
        (F.max("local_pack") + 1).alias("n_packs")
    )
    woff = (
        # panel-ok: input is the n_shards-row per-key shard summary — bounded derived table
        Window.partitionBy(*key_cols)
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "pack_base", F.coalesce(F.sum("n_packs").over(woff), F.lit(0)).cast("long")
    ).select(*key_cols, "shard", "pack_base")
    return local.join(F.broadcast(offsets), [*key_cols, "shard"]).withColumn(  # bcast-ok: |keys| x shards offset table
        "pack_id", F.col("pack_base") + F.col("local_pack")
    )
