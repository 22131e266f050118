"""Sessionization + ingest-pipeline catalog queries (SURVEY.md §2.10,
§3.1). The batch gaps-and-islands form is oracle-checkable; the
structured-streaming twin (same semantics on complete data) is
exercised in tests/test_streaming.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fegis_spark.catalog import register
from fegis_spark.ingest import ingest_batch
from fegis_spark.model import load_table
from fegis_spark.queries.sqlfrag import md5_int_sql


@register(
    "sessionize_events",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), brk AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_brk
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(is_brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM brk
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
    FROM sess GROUP BY user_id, session_seq
    """,
    covers=("§2.10-sessionize", "A2-analog"),
    bench=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] batch sessionization (30-min gap): lag + running sum of
    breaks — one shuffle on user_id; same result session_window gives
    a complete stream. The library window orders by ts alone, the
    oracle's by (ts, event_id); the output is the same either way:
    rows with equal ts are 0 s apart, so only the first of them can
    break, and the running sum gives every tied row the same
    session_seq."""
    from fegis_spark.streaming.sessionize import session_stats_batch

    return session_stats_batch(load_table(spark, sf_dir, "events"))


@register(
    "ingest_pipeline",
    oracle="""
    WITH calls AS (
      SELECT event_type AS tool, CAST(user_id AS VARCHAR) AS session_id,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ), seq AS (
      SELECT tool, session_id, ts,
             row_number() OVER (PARTITION BY session_id ORDER BY ts, event_id) AS sequence_order
      FROM calls
    )
    SELECT
      substr(md5(session_id || '#' || sequence_order), 1, 8) || '-' ||
      substr(md5(session_id || '#' || sequence_order), 9, 4) || '-' ||
      substr(md5(session_id || '#' || sequence_order), 13, 4) || '-' ||
      substr(md5(session_id || '#' || sequence_order), 17, 4) || '-' ||
      substr(md5(session_id || '#' || sequence_order), 21, 12) AS memory_id,
      tool || ' Invocation' AS title,
      tool, session_id, CAST(sequence_order AS BIGINT) AS sequence_order,
      CASE WHEN sequence_order > 1 THEN
        substr(md5(session_id || '#' || (sequence_order - 1)), 1, 8) || '-' ||
        substr(md5(session_id || '#' || (sequence_order - 1)), 9, 4) || '-' ||
        substr(md5(session_id || '#' || (sequence_order - 1)), 13, 4) || '-' ||
        substr(md5(session_id || '#' || (sequence_order - 1)), 17, 4) || '-' ||
        substr(md5(session_id || '#' || (sequence_order - 1)), 21, 12)
      END AS preceding_memory_id,
      ts AS timestamp
    FROM seq
    """,
    covers=("§3.1-ingest", "A2", "T6", "T8", "P7"),
)
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 batch ingest over events-as-tool-calls: argument
    partitioning, default titles, one-window sequencing, deterministic
    uuid-layout ids. Embedding column excluded here (checked rows-only
    in ingest_embeddings — float vectors don't hash portably)."""
    ev = load_table(spark, sf_dir, "events")
    calls = ev.select(
        F.col("event_type").alias("tool"),
        F.col("user_id").cast("string").alias("session_id"),
        F.col("ts"),
        F.col("event_id"),
        F.create_map(F.lit("payload"), F.col("props")).alias("arguments"),
    )
    mem = ingest_batch(calls, order_cols=["ts", "event_id"])
    return mem.select(
        "memory_id",
        "title",
        "tool",
        "session_id",
        F.col("sequence_order").cast("bigint").alias("sequence_order"),
        "preceding_memory_id",
        "timestamp",
    )


@register(
    "ingest_embeddings",
    oracle=None,  # feature-hash embedding is engine-specific — rows-only
    covers=("§2.11-embed", "S4"),
)
def ingest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11: the full ingest pipeline including the Arrow-batched
    embedding pandas_udf (deterministic feature-hash stand-in for the
    reference's fastembed ONNX model)."""
    ev = load_table(spark, sf_dir, "documents")
    calls = ev.select(
        F.lit("DocIngest").alias("tool"),
        F.col("source").alias("session_id"),
        # synthesize a monotone arrival order from doc_id
        F.timestamp_micros(F.col("doc_id") * 1000000).cast("timestamp_ntz").alias("ts"),
        F.create_map(F.lit("Content"), F.col("text")).alias("arguments"),
    )
    mem = ingest_batch(calls)
    return mem.select("memory_id", "tool", "session_id", "sequence_order", "embedding")


@register(
    "ingest_embed_audit",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_rows,
           64 AS dim,
           TRUE AS all_dim_64,
           TRUE AS all_unit_norm,
           TRUE AS nnz_bounded_by_tokens
    """,
    covers=("§2.11-embed", "S4"),
)
def ingest_embed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 error-bound audit for the embedding pandas_udf (same
    pattern as hll_error_audit / ann_ivf_recall_audit): the raw
    vectors stay rows-only (crc32 feature-hash is not DuckDB-
    computable, standing in for an ONNX forward pass that never would
    be), while THIS query value-checks the exact side (row count,
    declared dim) and asserts the embedder's contract invariants as
    booleans the oracle pins literally TRUE: every vector has exactly
    64 dims, every vector is unit-norm (the L2 normalize step; corpus
    docs are non-empty so the zero-vector branch never fires at the
    gate), and the number of nonzero buckets never exceeds the
    whitespace token count (each token increments exactly one
    bucket). A refactor that breaks normalization, dimensionality, or
    the one-bucket-per-token projection fails the gate."""
    from fegis_spark.ingest import ingest_batch

    ev = load_table(spark, sf_dir, "documents")
    calls = ev.select(
        F.lit("DocIngest").alias("tool"),
        F.col("source").alias("session_id"),
        F.timestamp_micros(F.col("doc_id") * 1000000).cast("timestamp_ntz").alias("ts"),
        F.create_map(F.lit("Content"), F.col("text")).alias("arguments"),
    )
    mem = ingest_batch(calls)
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    nnz = F.size(F.filter(v, lambda x: x != 0.0))
    n_tok = F.size(F.split(F.lower(F.col("content")), r"\s+"))
    per_row = mem.select(
        (F.size("embedding") == 64).cast("int").alias("dim_ok"),
        (F.abs(norm - 1.0) < 1e-5).cast("int").alias("norm_ok"),
        (nnz <= n_tok).cast("int").alias("nnz_ok"),
    )
    return per_row.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.lit(64).alias("dim"),
        (F.sum("dim_ok") == F.count("*")).alias("all_dim_64"),
        (F.sum("norm_ok") == F.count("*")).alias("all_unit_norm"),
        (F.sum("nnz_ok") == F.count("*")).alias("nnz_bounded_by_tokens"),
    )


@register(
    "interval_join_events",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT l.user_id,
           l.event_id AS l_event_id,
           r.event_id AS r_event_id,
           CAST(floor(epoch(r.ts) - epoch(l.ts)) AS BIGINT) AS lag_s
    FROM e l JOIN e r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'view'
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1440 MINUTES
    """,
    covers=("[EXT]-streaming",),
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] event-time interval join (click → view attribution within
    24 h) — the batch twin of streaming.joins.interval_join_stream,
    whose stream-vs-batch agreement is pinned in tests/test_streaming.py.
    Equi-join on user_id carries the shuffle; the time bound is a
    post-join range filter, so this stays a hash join (never a cross
    product) at any scale."""
    from fegis_spark.streaming.joins import interval_join_batch

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = interval_join_batch(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        interval_minutes=1440,
    )
    return out.select(
        "user_id",
        "l_event_id",
        "r_event_id",
        # floor of the EXACT difference — unix_timestamp would floor
        # each side first and disagree with the oracle on sub-second ts
        F.expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000").alias("lag_s"),
    )


@register(
    "sliding_counts_events",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             epoch(CAST(ts AS TIMESTAMP)) AS et
      FROM events
    ), expanded AS (
      SELECT event_type, value, w * 10800 AS ws
      FROM e, LATERAL (
        SELECT unnest(range(
          CAST(floor((et - 21600) / 10800) AS BIGINT) + 1,
          CAST(floor(et / 10800) AS BIGINT) + 1
        )) AS w
      )
    )
    SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS w_start, event_type,
           COUNT(*) AS n,
           round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS total_value
    FROM expanded
    GROUP BY ws, event_type
    """,
    covers=("§2.10-sliding",),
)
def sliding_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 sliding-window aggregate (6 h window, 3 h slide): every
    event lands in size/slide = 2 windows — Spark's window() expansion
    is restated in the oracle as an explicit window-index range join.
    Streaming twin: streaming.sessionize.tumbling_counts_stream with
    slide=, same watermarked shape."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "cdc_upsert_conflicts",
    oracle=f"""
    WITH ch AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN {md5_int_sql('CAST(event_id AS VARCHAR)', 8, spark=False)} % 100 = 0
                  THEN 'delete' ELSE 'upsert' END AS op
      FROM events
    ), ups AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch WHERE op = 'upsert'
    ), dels AS (SELECT DISTINCT user_id FROM ch WHERE op = 'delete')
    SELECT u.user_id, u.event_id AS last_event_id,
           u.ts AS last_ts, u.value AS last_value
    FROM ups u
    WHERE u.rn = 1
      AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.user_id = u.user_id)
    """,
    covers=("[EXT]-cdc", "§2.5-topk"),
)
def cdc_upsert_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the streaming CDC fold's IN-BATCH conflict semantics,
    value-checked (r5 ADVICE follow-through): every event becomes a
    change op (md5-bucket 1% deletes, rest upserts keyed by user_id —
    ~67 conflicting upserts per key per 'batch'), folded by the SAME
    apply_cdc_batch the streaming sink uses. The oracle asserts
    exactly the documented precedence: multiple upserts to one key
    collapse to the highest-(seq, payload) winner (seq_col=ts,
    event_id breaking ts ties through the payload total-order) and a
    delete beats every upsert of its key. Each surviving user emits
    ONE row — the key-uniqueness invariant the snapshot contract
    promises. Plan: one groupBy(key) max_by (no join-back) + a
    broadcast delete anti-join; at 100 TB the fold cost is one
    hash-agg of the batch, never the snapshot."""
    from fegis_spark.streaming.cdc import apply_cdc_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    bucket = F.expr(f"{md5_int_sql('CAST(event_id AS STRING)', 8, spark=True)} % 100")
    ch = ev.withColumn(
        "op", F.when(bucket == 0, F.lit("delete")).otherwise(F.lit("upsert"))
    )
    snap = apply_cdc_batch(None, ch, "user_id", seq_col="ts")
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


#: CUSUM drift geometry for the batch twin: literal target/slack/h on
#: both sides (streaming/drift.py uses the same fold).
CUSUM_TARGET, CUSUM_SLACK, CUSUM_H = "10.0", "0.5", "25.0"


@register(
    "cusum_batch",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), sz AS (
      SELECT user_id, MAX(rn) AS n FROM ev GROUP BY user_id
    ), fold AS (
      SELECT user_id, 0 AS rn, CAST(0.0 AS DOUBLE) AS pos, CAST(0.0 AS DOUBLE) AS neg FROM sz
      UNION ALL
      SELECT f.user_id, f.rn + 1,
             greatest(0.0, f.pos + (e.value - {CUSUM_TARGET} - {CUSUM_SLACK})),
             least(0.0, f.neg + (e.value - {CUSUM_TARGET} + {CUSUM_SLACK}))
      FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
    )
    SELECT f.user_id, sz.n AS n_events,
           f.pos AS cusum_pos, -- lint: allow unrounded (bit-identical fold)
           f.neg AS cusum_neg, -- lint: allow unrounded (bit-identical fold)
           (f.pos > {CUSUM_H} OR f.neg < -{CUSUM_H}) AS drifted
    FROM fold f JOIN sz ON sz.user_id = f.user_id AND f.rn = sz.n
    """,
    covers=("§2.10-drift", "§2.11-udaf"),
)
def cusum_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 batch twin of the streaming CUSUM drift detector
    (streaming/drift.py) — and a demonstration that even a
    NON-associative stateful fold can be oracle-checked: Spark folds
    each user's (ts, event_id)-ordered values sequentially with a JVM
    aggregate() HOF over sort_array(collect_list(struct(...))), while
    the oracle unrolls the identical recurrence as a DuckDB recursive
    CTE. Both sides apply the same left-associated IEEE operations in
    the same order with literal constants, so the final statistics are
    bit-identical and are emitted UNROUNDED (any rounding would add a
    third rounding rule — r5 ADVICE). One shuffle on user_id; per-group
    work is O(events of that user).

    r15 opt (guide §4.1 "prefer built-ins over applyInPandas"): the
    previous shape was a grouped applyInPandas whose per-group cost —
    Arrow transpose + pandas frame construct + mergesort + Python row
    loop, ~1500 groups of ~67 rows at sf0.1 — dominated the query at
    5+ s. The JVM fold removes the Python boundary entirely: one
    collect_list agg (same shuffle bytes), sort_array gives the same
    (ts, event_id) total order (event_id is unique, so the struct's
    value tiebreak is never reached — same contract as the pandas
    stable sort), and aggregate() folds left-associated like the
    Python loop. greatest/least vs Python max/min: identical on these
    inputs — the fold values can never be -0.0 (pos ≥ +0.0 always;
    the per-event increments are sums with a ±0.5 term, so never
    -0.0), and NaN/NULL don't occur in value. BatchEvalPython gone
    from the plan; the HOF projection is interpreted but runs once
    per event total, not per Python batch."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    fold = (
        "aggregate(sort_array(evs), "
        "named_struct('pos', CAST(0.0 AS DOUBLE), 'neg', CAST(0.0 AS DOUBLE)), "
        "(acc, e) -> named_struct("
        f"'pos', greatest(CAST(0.0 AS DOUBLE), acc.pos + (e.value - {CUSUM_TARGET}D - {CUSUM_SLACK}D)), "
        f"'neg', least(CAST(0.0 AS DOUBLE), acc.neg + (e.value - {CUSUM_TARGET}D + {CUSUM_SLACK}D))))"
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.collect_list(F.struct("ts", "event_id", "value")).alias("evs"),
        )
        .selectExpr("user_id", "n_events", f"{fold} AS st")
        .selectExpr(
            "user_id",
            "n_events",
            "st.pos AS cusum_pos",
            "st.neg AS cusum_neg",
            f"(st.pos > {CUSUM_H}D OR st.neg < -{CUSUM_H}D) AS drifted",
        )
    )


#: constructed out-of-orderness for the watermark audit: every 5th
#: event arrives with its timestamp shifted back (event_id % 40)
#: minutes — the testdata stream is perfectly ordered (probed: zero
#: inversions at sf0.01), so lateness is INJECTED deterministically on
#: both engines (the duck_hot_docs pattern) to keep every bucket
#: occupied at every sf.
_LATE_SHIFT = "CASE WHEN event_id % 5 = 0 THEN (event_id % 40) * 60000000 ELSE 0 END"
#: bucket ladder in micros: on-time / <=1m / <=5m / <=15m / beyond.
_LATE_BUCKET = """CASE WHEN late_us = 0 THEN 0
              WHEN late_us <= 60000000 THEN 1
              WHEN late_us <= 300000000 THEN 2
              WHEN late_us <= 900000000 THEN 3
              ELSE 4 END"""


@register(
    "watermark_lateness_audit",
    oracle=f"""
    WITH late AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) - {_LATE_SHIFT} AS m
      FROM events
    ), x AS (
      SELECT greatest(0, coalesce(max(m) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - m, 0)) AS late_us
      FROM late
    )
    SELECT bucket, COUNT(*) AS n_events, CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM (SELECT {_LATE_BUCKET} AS bucket, late_us FROM x)
    GROUP BY bucket
    """,
    covers=("§2.10-watermark", "§2.5-window"),
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 watermark-delay audit: per-key (user) event-time lateness
    vs the arrival-order running maximum, bucketed into the candidate
    watermark delays (on-time / 1m / 5m / 15m / beyond) — the
    histogram that picks `withWatermark`'s delay: every bucket above
    the chosen delay is state the stream would DROP as too-late. The
    testdata stream is perfectly ordered, so out-of-orderness is
    injected deterministically on both engines (every 5th event shifts
    back event_id%40 minutes — the constructed-corpus pattern).

    All arithmetic is exact integer micros (unix_micros/epoch_us);
    the only window is per-user arrival-order — one key shuffle, no
    global sort; output is a 5-row histogram."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    m = (
        F.unix_micros(F.col("ts").cast("timestamp")) - F.expr(_LATE_SHIFT)
    ).alias("m")
    late = ev.select("user_id", "event_id", m)
    w = (
        Window.partitionBy("user_id")  # grpwin-ok: user_id cardinality scales with input
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = late.select(
        F.greatest(
            F.lit(0).cast("bigint"),
            F.coalesce(F.max("m").over(w) - F.col("m"), F.lit(0).cast("bigint")),
        ).alias("late_us")
    )
    return (
        x.select(F.expr(_LATE_BUCKET).alias("bucket"), "late_us")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
        )
    )
