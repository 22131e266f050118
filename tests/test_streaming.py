"""Structured-streaming tests: the streaming sessionization/windows
must agree with their batch twins on complete data (driven by the
parquet file source + memory sink, Trigger.AvailableNow)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fegis_spark.model import load_table
from fegis_spark.streaming.dedup import dedup_stream
from fegis_spark.streaming.sessionize import (
    session_stats_batch,
    sessionize_stream,
    tumbling_counts_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _drain(q, timeout: int = 300) -> None:
    """AvailableNow queries must terminate. On timeout, stop the query
    (so it doesn't leak into later tests) and fail loudly instead of
    letting assertions run against a partially-filled memory sink."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise AssertionError(f"streaming query did not drain in {timeout}s")


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    batch = load_table(spark, SF_DIR, "events")
    # the file stream source wants a directory — stage a rewrite of the
    # table THROUGH load_table so the fixture is robust to however the
    # raw testdata encodes ts (NANOS in earlier drops, MICROS now):
    # load_table normalizes both, and the staged copy is plain TIMESTAMP
    d = tmp_path_factory.mktemp("events_stream")
    batch.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .parquet(str(d)),
        batch,
    )


def _normalize_stream_events(sdf):
    # staged fixture already carries TIMESTAMP ts (watermark-ready)
    return sdf


def _py_session_stats(events, gap_s=1800):
    """Pure-Python sessionization: per user, in ts order, a new
    session starts where the gap to the previous event exceeds gap_s."""
    out, by_user = [], {}
    for _eid, user, ts in events:
        by_user.setdefault(user, []).append(ts)
    for user, tss in by_user.items():
        tss.sort()
        seq, start, prev, n = 0, None, None, 0
        for ts in tss:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                if start is not None:
                    out.append((user, seq, start, prev, n))
                seq, start, n = seq + 1, ts, 0
            prev, n = ts, n + 1
        out.append((user, seq, start, prev, n))
    return sorted((u, q, a, b, n, int((b - a).total_seconds())) for u, q, a, b, n in out)


def test_batch_sessions_with_tied_timestamps(spark):
    """Equal-ts events on both sides of a 30-minute gap: the window
    orders by ts alone, so tied rows come in any order, yet the output
    is fixed — tied rows are 0 s apart, so only the first of them can
    break, and the running sum gives them all the same session_seq."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    at = [t0, t0, t0 + dt.timedelta(minutes=10), t0 + dt.timedelta(minutes=10)]
    # 31 minutes after the last tie: a break, then more ties
    at += [t0 + dt.timedelta(minutes=41)] * 3 + [t0 + dt.timedelta(minutes=71)] * 2
    # exactly 30 minutes later: no break
    at += [t0 + dt.timedelta(minutes=101)]
    events = [(i, 1, ts) for i, ts in enumerate(at)]
    events += [(100 + i, 2, t0) for i in range(4)]  # one all-tied session
    df = spark.createDataFrame(events, "event_id long, user_id long, ts timestamp")
    got = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events, r.duration_s)
        for r in session_stats_batch(df.repartition(3, "event_id")).collect()
    )
    assert got == _py_session_stats(events)
    assert [(u, q, n) for u, q, _a, _b, n, _d in got] == [(1, 1, 4), (1, 2, 6), (2, 1, 4)]


def test_streaming_sessionization_matches_batch(spark, events_stream):
    sdf, batch = events_stream
    agg = sessionize_stream(_normalize_stream_events(sdf), gap_minutes=30)
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_out"
    )
    # session_window's end = last event + gap; shift the batch twin's
    # max(ts) end by the gap to compare like with like
    want = session_stats_batch(batch, gap_minutes=30).select(
        "user_id",
        "session_start",
        (F.col("session_end").cast("timestamp") + F.expr("INTERVAL 30 MINUTES")).alias(
            "session_end"
        ),
        "n_events",
    )
    # session_window closes sessions only below the watermark; with
    # AvailableNow the final watermark passes max(ts) minus delay,
    # so late sessions at the tail may be withheld — compare the common
    # prefix: every emitted session must exactly match a batch session.
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows, "stream emitted nothing"
    assert got_rows <= want_rows
    # and coverage is essentially complete
    assert len(got_rows) >= len(want_rows) * 0.9


def test_tumbling_counts_match_batch(spark, events_stream):
    sdf, batch = events_stream
    agg = tumbling_counts_stream(_normalize_stream_events(sdf), window_size="6 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        (r.w_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    want = {
        (r.w_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in batch.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
        .collect()
    }
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_stateful_sequence_numbering(spark, events_stream):
    from fegis_spark.streaming.sessionize import assign_sequence_stream

    sdf, batch = events_stream
    seq = assign_sequence_stream(_normalize_stream_events(sdf))
    q = (
        seq.writeStream.format("memory")
        .queryName("seq_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        (r.user_id, r.event_id): r.sequence_order
        for r in spark.sql("SELECT * FROM seq_out").collect()
    }
    # must equal the batch window numbering (same ts+event_id order)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.event_id): r.sequence_order
        for r in batch.withColumn("sequence_order", F.row_number().over(w)).collect()
    }
    assert got == want


def test_streaming_dedup_matches_batch_distinct(spark, events_stream):
    from fegis_spark.streaming.dedup import dedup_stream

    sdf, batch = events_stream
    dd = dedup_stream(_normalize_stream_events(sdf), "props", "ts", delay="10 minutes")
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.sql("SELECT count(*) AS n FROM dedup_sink").collect()[0].n
    from fegis_spark.queries.sqlfrag import norm_text_sql

    exp = batch.selectExpr(f"md5({norm_text_sql('props', spark=True)}) AS h").distinct().count()
    assert got == exp


@pytest.fixture(scope="module")
def chunked_events(spark, tmp_path_factory):
    """Volume fixture (sf0.01, 10k events over 30 days) staged as 6
    time-ordered parquet chunks so Trigger.AvailableNow runs one
    micro-batch per chunk and the watermark advances ~5 days between
    batches. Returns (staging_dir, batch_df)."""
    import shutil

    sf_dir = "/root/testdata/sf0.01"
    batch = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    staging = tmp_path_factory.mktemp("e2e_events")
    span = (hi - lo) / 6
    for i in range(6):
        chunk_lo = lo + span * i
        chunk_hi = hi if i == 5 else lo + span * (i + 1)
        cond = (F.col("ts") >= F.lit(chunk_lo)) & (
            F.col("ts") <= F.lit(chunk_hi) if i == 5 else F.col("ts") < F.lit(chunk_hi)
        )
        tmp_out = staging / f"__tmp{i}"
        batch.filter(cond).coalesce(1).write.mode("overwrite").parquet(str(tmp_out))
        part = next(p for p in tmp_out.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, staging / f"chunk-{i:02d}.parquet")
        shutil.rmtree(tmp_out)
    return staging, batch


E2E_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _chunked_stream(spark, staging):
    return (
        spark.readStream.schema(E2E_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging))
    )


def test_available_now_end_to_end_state_bounded(spark, chunked_events):
    """AvailableNow e2e over the chunked volume fixture. Asserts (a)
    sessionization output matches the batch session_window twin for
    every emitted session, (b) the session state store and the dedup
    state store stay far below total-sessions/total-rows — the
    watermark must actually evict."""
    staging, batch = chunked_events
    sdf = _chunked_stream(spark, staging)

    sess = sessionize_stream(sdf, gap_minutes=30, watermark="10 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("e2e_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    sess_progress = [p for p in q.recentProgress if p["stateOperators"]]
    max_sess_state = max(p["stateOperators"][0]["numRowsTotal"] for p in sess_progress)
    assert len(sess_progress) >= 6  # one micro-batch per chunk

    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in spark.table("e2e_sessions").collect()
    }
    want_df = (
        batch.groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    want = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in want_df.collect()
    }
    # append mode withholds only sessions still open under the final
    # watermark (the last chunk's tail)
    assert len(got) >= 0.9 * len(want)
    for k, v in got.items():
        assert want.get(k) == v, k
    # state must stay bounded: a 10-minute watermark over 30 days of
    # time-ordered input evicts nearly everything between batches
    assert max_sess_state < 0.5 * len(want), (max_sess_state, len(want))

    dd = dedup_stream(
        sdf.withColumn("text", F.concat_ws(" ", "event_type", "props")),
        text_col="text",
        ts_col="ts",
        delay="10 minutes",
    )
    q2 = (
        dd.writeStream.format("memory")
        .queryName("e2e_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q2)
    n_total = batch.count()
    n_out = spark.table("e2e_dedup").count()
    dd_progress = [p for p in q2.recentProgress if p["stateOperators"]]
    max_dd_state = max(p["stateOperators"][0]["numRowsTotal"] for p in dd_progress)
    n_distinct = (
        batch.withColumn("text", F.concat_ws(" ", "event_type", "props"))
        .select(F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))))
        .distinct()
        .count()
    )
    assert n_distinct <= n_out <= n_total
    # the hash state must never approach the full corpus
    assert max_dd_state < 0.5 * n_total, (max_dd_state, n_total)


def test_available_now_sliding_window_state_bounded(spark, chunked_events):
    """Sliding-window counts (2 h window / 30 min slide) through
    AvailableNow over the chunked volume fixture: emitted windows must
    equal the batch F.window twin, and window state must stay far below
    the total open-window count for 30 days of data."""
    staging, batch = chunked_events
    sdf = _chunked_stream(spark, staging)

    sw = tumbling_counts_stream(
        sdf, window_size="2 hours", slide="30 minutes", watermark="10 minutes"
    )
    q = (
        sw.writeStream.format("memory")
        .queryName("e2e_sliding")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progress) >= 6  # one micro-batch per chunk
    max_state = max(p["stateOperators"][0]["numRowsTotal"] for p in progress)

    got = {
        (r.w_start, r.w_end, r.event_type): (r.n, round(r.total_value or 0.0, 6))
        for r in spark.table("e2e_sliding").collect()
    }
    want = {
        (r.w_start, r.w_end, r.event_type): (r.n, round(r.total_value or 0.0, 6))
        for r in (
            batch.groupBy(
                F.window("ts", "2 hours", "30 minutes"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
            .select(
                F.col("window.start").alias("w_start"),
                F.col("window.end").alias("w_end"),
                "event_type",
                "n",
                "total_value",
            )
            .collect()
        )
    }
    # append mode withholds only windows still open under the final
    # watermark (the last chunk's tail)
    assert len(got) >= 0.9 * len(want)
    for k, v in got.items():
        assert want.get(k) == v, k
    # state = open windows only; with a 10-minute watermark over
    # time-ordered chunks, closed windows must be evicted each batch
    assert max_state < 0.5 * len(want), (max_state, len(want))


def test_available_now_interval_join_state_bounded(spark, chunked_events):
    """Stream-stream interval join (click→view within 24 h, same user)
    through AvailableNow over the chunked volume fixture: the emitted
    pairs must equal the batch twin exactly, and the join buffers must
    hold far fewer rows than both full streams — the two-sided
    watermark + time bound must evict."""
    from fegis_spark.streaming.joins import interval_join_batch, interval_join_stream

    staging, batch = chunked_events
    sdf = _chunked_stream(spark, staging)

    clicks_s = sdf.filter(F.col("event_type") == "click")
    views_s = sdf.filter(F.col("event_type") == "view")
    joined = interval_join_stream(
        clicks_s, views_s, interval_minutes=1440, watermark="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("e2e_interval")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progress) >= 6
    max_state = max(p["stateOperators"][0]["numRowsTotal"] for p in progress)

    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.table("e2e_interval").collect()
    }
    want = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in interval_join_batch(
            batch.filter(F.col("event_type") == "click"),
            batch.filter(F.col("event_type") == "view"),
            interval_minutes=1440,
        ).collect()
    }
    # inner stream-stream join under AvailableNow drains completely
    assert got == want and len(want) > 0
    # buffered state must stay O(interval + watermark), not O(stream):
    # both sides together hold ≈1 day + 1 h of a 30-day stream per batch
    n_stream = batch.filter(F.col("event_type").isin("click", "view")).count()
    assert max_state < 0.5 * n_stream, (max_state, n_stream)


def test_stream_stream_interval_join_matches_batch(spark, events_stream):
    from fegis_spark.streaming.joins import interval_join_batch, interval_join_stream

    sdf, batch = events_stream
    s = _normalize_stream_events(sdf)
    clicks_s = s.filter(F.col("event_type") == "click")
    views_s = s.filter(F.col("event_type") == "view")
    # per-user event gaps in the testdata are hours apart — use a
    # 24 h interval so the join has real matches (91 pairs at sf0.001)
    joined = interval_join_stream(
        clicks_s, views_s, interval_minutes=1440, watermark="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, l_event_id, r_event_id FROM ssj_out"
        ).collect()
    }

    # load_table already yields TIMESTAMP_NTZ; same instant as TIMESTAMP
    # under the UTC session
    b = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        tuple(r)
        for r in interval_join_batch(
            b.filter(F.col("event_type") == "click"),
            b.filter(F.col("event_type") == "view"),
            interval_minutes=1440,
        )
        .select("user_id", "l_event_id", "r_event_id")
        .collect()
    }
    assert want, "batch twin produced no pairs — test data assumption broken"
    # inner stream-stream join emits matches regardless of watermark
    # passage; once AvailableNow drains, sets must agree exactly
    assert got == want


def test_stream_stream_join_state_has_watermark_bound(spark, events_stream):
    """The executed streaming plan must carry event-time watermarks on
    both inputs and a range condition — the preconditions Structured
    Streaming needs to expire join state instead of buffering forever."""
    from fegis_spark.streaming.joins import interval_join_stream

    sdf, _ = events_stream
    s = _normalize_stream_events(sdf)
    joined = interval_join_stream(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "view"),
    )
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2, plan


def test_stream_static_enrichment_matches_batch(spark, events_stream):
    """Stream-static broadcast join: every micro-batch row is decorated
    with the dim attributes; result equals the batch join and the
    query runs stateless (no state store operators at all)."""
    from fegis_spark.streaming.joins import enrich_stream_static

    sdf, batch = events_stream
    # deterministic dim: user_id -> tier derived from the key
    dim = (
        batch.select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    enriched = enrich_stream_static(
        sdf, dim, keys=("user_id", "user_id"), dim_cols=("tier",)
    )
    q = (
        enriched.select("event_id", "user_id", "tier")
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # stateless: no stateOperators in any progress entry
    assert all(not p["stateOperators"] for p in q.recentProgress)
    got = {(r.event_id, r.tier) for r in spark.table("enrich_out").collect()}
    want = {
        (r.event_id, "gold" if r.user_id % 3 == 0 else "std")
        for r in batch.select("event_id", "user_id").collect()
    }
    assert got == want


def test_late_data_dropped_vs_kept_against_batch_twin(spark, tmp_path_factory):
    """r8 verdict item 7: REAL micro-batches with injected out-of-order
    events. Chunk 0 pushes the watermark forward; chunk 1 is a spacer
    (watermark ENFORCEMENT in batch N uses the watermark computed from
    data through batch N-2 — one trigger behind the progress line's
    value; probed empirically on this Spark, see CLAUDE.md r9 notes);
    chunk 2 carries one event older than the enforced watermark (its
    session window closes below it -> DROPPED) and one on-time event
    (kept); chunk 3 is a far-future flusher that closes all kept
    sessions. Asserts the emitted sessions equal the batch twin on
    (all events minus the dropped one), that the batch twin on FULL
    data differs by exactly the dropped session, and that
    numRowsDroppedByWatermark counts the late row."""
    import datetime as dt
    import os
    import shutil

    T = dt.datetime(2024, 1, 1, 0, 0, 0)

    def m(minutes):
        return T + dt.timedelta(minutes=minutes)

    chunks = [
        # chunk 0: user 1's session + the watermark pusher (user 9)
        [(1, m(0)), (1, m(1)), (1, m(2)), (9, m(60))],
        # chunk 1: spacer — after this batch the T+50 watermark
        # (60 - 10min delay) is ENFORCED in the next one
        [(8, m(63))],
        # chunk 2: user 2 @ T+5: session window [T+5, T+35) ends below
        # the enforced T+50 watermark -> dropped;
        # user 1 @ T+62: on-time, opens a second session
        [(2, m(5)), (1, m(62))],
        # chunk 3: flusher far past every kept window's end
        [(7, m(300))],
    ]
    staging = tmp_path_factory.mktemp("late_events")
    for i, rows in enumerate(chunks):
        tmp_out = staging / f"__tmp{i}"
        spark.createDataFrame(
            [(100 * i + j, ts, uid, "e", 1.0, None) for j, (uid, ts) in enumerate(rows)],
            E2E_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_out))
        part = next(p for p in tmp_out.iterdir() if p.name.endswith(".parquet"))
        dst = staging / f"chunk-{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1700000000 + 100 * i, 1700000000 + 100 * i))  # force order
        shutil.rmtree(str(tmp_out))

    sess = sessionize_stream(
        _chunked_stream(spark, staging), gap_minutes=30, watermark="10 minutes"
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM late_sessions").collect()
    }
    gap = dt.timedelta(minutes=30)
    expected_kept = {
        (1, m(0), m(2) + gap, 3),
        (9, m(60), m(60) + gap, 1),
        (8, m(63), m(63) + gap, 1),
        (1, m(62), m(62) + gap, 1),
        # flusher's own session (user 7) stays in state, unemitted
    }
    assert got == expected_kept

    # the watermark drop is observable in the state-operator metrics
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1

    # batch twin on ALL events includes exactly the dropped session more
    all_rows = [(uid, ts) for c in chunks for (uid, ts) in c]
    batch_df = spark.createDataFrame(all_rows, "user_id long, ts timestamp")
    batch_full = {
        (r.user_id, r.session_start, r.session_end + gap, r.n_events)
        for r in session_stats_batch(batch_df, gap_minutes=30).collect()
        if r.user_id != 7  # the flusher session never closed in the stream
    }
    assert batch_full - got == {(2, m(5), m(5) + gap, 1)}  # the dropped one
    # and the kept sessions agree exactly with the batch twin on
    # (all events minus the dropped late event)
    kept_df = batch_df.filter(~((F.col("user_id") == 2)))
    batch_kept = {
        (r.user_id, r.session_start, r.session_end + gap, r.n_events)
        for r in session_stats_batch(kept_df, gap_minutes=30).collect()
        if r.user_id != 7
    }
    assert batch_kept == got
