"""Structured Streaming tests: batch-replay parity for the windowed
aggregation, and stateful sessionization across micro-batches."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_tumbling_replay_equals_batch(spark, sf_dir):
    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_build_to_memory,
        tumbling_agg,
        tumbling_agg_schema,
    )

    streamed = replay_build_to_memory(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        tumbling_agg,
        tumbling_agg_schema(),
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    s = {(r.window_start, r.event_type): r.n_events for r in streamed.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert s == b


@pytest.fixture()
def time_split_events_dir(sf_dir):
    """events split into two time-ordered parquet files (micro-batch per
    file with maxFilesPerTrigger=1) — sessions must survive the split."""
    out = tempfile.mkdtemp(prefix=f"events_split_{uuid.uuid4().hex[:8]}_")
    src = os.path.join(sf_dir, "events.parquet")
    con = duckdb.connect()
    cutoff = con.sql(
        f"SELECT quantile_disc(ts, 0.5) FROM '{src}'"
    ).fetchone()[0]
    con.sql(
        f"COPY (SELECT event_id, ts, user_id, event_type, value FROM '{src}' "
        f"WHERE ts <= TIMESTAMP '{cutoff}' ORDER BY ts, event_id) "
        f"TO '{out}/a_part0.parquet' (FORMAT PARQUET)"
    )
    con.sql(
        f"COPY (SELECT event_id, ts, user_id, event_type, value FROM '{src}' "
        f"WHERE ts > TIMESTAMP '{cutoff}' ORDER BY ts, event_id) "
        f"TO '{out}/b_part1.parquet' (FORMAT PARQUET)"
    )
    # FileStreamSource orders new files by MODIFICATION TIME: the two
    # back-to-back COPYs can land in the same mtime millisecond, and on
    # that tie the late half has been delivered first (round-10 verdict
    # — the one observed pytest failure of the round). Pin explicit
    # distinct mtimes so in-order delivery is a fixture guarantee, not
    # a filesystem race; the reversed-order path is its own test.
    t = 1_700_000_000
    os.utime(os.path.join(out, "a_part0.parquet"), (t, t))
    os.utime(os.path.join(out, "b_part1.parquet"), (t + 2, t + 2))
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_stateful_sessionize_matches_batch(spark, sf_dir, time_split_events_dir):
    from weather_analysis_bigdata__spark.registry import all_queries
    from weather_analysis_bigdata__spark.streaming.sessionize import (
        sessionize_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(time_split_events_dir)
    )
    sink = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    session_rows = spark.table(sink).collect()
    # in-order delivery (fixture-pinned mtimes) → zero late drops
    assert all(r.n_late == 0 for r in session_rows)
    streamed = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 2))
        for r in session_rows
    }
    # Batch truth: all sessions; the stream only emits CLOSED sessions
    # (a later event arrived >gap after them), so compare that subset.
    batch_rows = all_queries()["events_sessionize_30m"].fn(spark, sf_dir).collect()
    batch_all = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 2))
        for r in batch_rows
    }
    last_session_end = {}
    for r in batch_rows:
        cur = last_session_end.get(r.user_id)
        if cur is None or r.session_end > cur:
            last_session_end[r.user_id] = r.session_end
    batch_closed = {
        k: v
        for k, v in batch_all.items()
        if k[2] != last_session_end[k[0]]  # the final session stays open
    }
    assert streamed == batch_closed
    assert len(streamed) > 100  # the stream actually closed sessions


def _run_sessionize_files(spark, src_dir):
    """availableNow sessionize replay over src_dir with
    maxFilesPerTrigger=1 (one micro-batch per file, mtime order)."""
    from weather_analysis_bigdata__spark.streaming.sessionize import (
        sessionize_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    sink = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).collect()


def test_stateful_sessionize_reversed_order_never_inverts(spark, sf_dir):
    """Round-10 verdict item 1 done-criterion: deliver the LATE half
    of the time-split first (the observed mtime-tie failure, now
    forced). The old code silently merged the early events into open
    sessions and emitted start > end rows; the late-event policy must
    instead drop-and-COUNT them — never an inverted session, and every
    dropped event accounted for in n_late."""
    src = os.path.join(sf_dir, "events.parquet")
    out = tempfile.mkdtemp(prefix=f"events_rev_{uuid.uuid4().hex[:8]}_")
    try:
        con = duckdb.connect()
        cutoff = con.sql(
            f"SELECT quantile_disc(ts, 0.5) FROM '{src}'"
        ).fetchone()[0]
        con.sql(
            f"COPY (SELECT event_id, ts, user_id, event_type, value "
            f"FROM '{src}' WHERE ts > TIMESTAMP '{cutoff}' "
            f"ORDER BY ts, event_id) "
            f"TO '{out}/b_late_half.parquet' (FORMAT PARQUET)"
        )
        con.sql(
            f"COPY (SELECT event_id, ts, user_id, event_type, value "
            f"FROM '{src}' WHERE ts <= TIMESTAMP '{cutoff}' "
            f"ORDER BY ts, event_id) "
            f"TO '{out}/a_early_half.parquet' (FORMAT PARQUET)"
        )
        # Sentinel third batch: one far-future event per user closes
        # every open session, flushing its n_late accounting into the
        # observable output (drops land in state until a close).
        con.sql(
            f"COPY (SELECT 10000000 + user_id AS event_id, "
            f"(SELECT max(ts) FROM '{src}') + INTERVAL 2 HOUR AS ts, "
            f"user_id, 'sentinel' AS event_type, 0.0 AS value "
            f"FROM (SELECT DISTINCT user_id FROM '{src}')) "
            f"TO '{out}/c_sentinel.parquet' (FORMAT PARQUET)"
        )
        n_total = con.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
        t = 1_700_000_000
        os.utime(os.path.join(out, "b_late_half.parquet"), (t, t))
        os.utime(os.path.join(out, "a_early_half.parquet"), (t + 2, t + 2))
        os.utime(os.path.join(out, "c_sentinel.parquet"), (t + 4, t + 4))
        rows = _run_sessionize_files(spark, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    assert rows
    inverted = [r for r in rows if r.session_start > r.session_end]
    assert inverted == []  # the round-10 corruption, now impossible
    n_late_total = sum(r.n_late for r in rows)
    assert n_late_total > 0  # the late path actually engaged
    # Conservation: the sentinel batch closes every open session (its
    # 2h gap > the 30m session gap), flushing all n_late accounting,
    # while each sentinel itself opens a NEW session that stays open
    # (never emitted). So every real source event is either folded
    # into an emitted session or dropped-and-counted — none vanish.
    folded = sum(r.n_events for r in rows)
    assert folded + n_late_total == n_total


def test_stateful_sessionize_in_span_late_merge_equals_batch(spark):
    """A late event landing INSIDE the open session's [start, last]
    span is order-safe: the hardened sessionizer merges it and the
    closed session equals the batch twin on the union — late-but-
    mergeable data is not thrown away."""
    import pandas as pd

    t0 = pd.Timestamp("2024-03-01 12:00:00")
    m = pd.Timedelta(minutes=1)

    def write_batch(dirpath, name, mtime, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [float(r[0]) for r in rows],
            }
        )
        path = os.path.join(dirpath, name)
        # µs timestamps: Spark's vectorized parquet reader rejects the
        # TIMESTAMP(NANOS) pandas/pyarrow would write by default
        pdf.to_parquet(path, coerce_timestamps="us")
        os.utime(path, (mtime, mtime))

    out = tempfile.mkdtemp(prefix=f"late_merge_{uuid.uuid4().hex[:8]}_")
    try:
        t = 1_700_000_000
        # batch 0: events at T0 and T0+20m (one open session)
        write_batch(out, "b0.parquet", t, [(1, t0), (2, t0 + 20 * m)])
        # batch 1: LATE event at T0+10m — inside [T0, T0+20m] → merge
        write_batch(out, "b1.parquet", t + 2, [(3, t0 + 10 * m)])
        # batch 2: LATE event at T0-2h — before start → drop + count
        write_batch(out, "b2.parquet", t + 4, [(4, t0 - 120 * m)])
        # batch 3: event at T0+90m — gap > 30m closes the session
        write_batch(out, "b3.parquet", t + 6, [(5, t0 + 90 * m)])
        rows = _run_sessionize_files(spark, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    assert len(rows) == 1
    r = rows[0]
    assert (r.user_id, r.session_start, r.session_end) == (1, t0, t0 + 20 * m)
    assert r.n_events == 3  # the in-span late event folded in
    assert r.sum_value == 6.0  # 1 + 2 + 3
    assert r.n_late == 1  # the before-start event dropped, counted


def test_sessionize_reorder_within_watermark_equals_batch(spark):
    """The reorder-within-watermark sessionizer: a late file whose
    events land BEFORE the open session's start — the disorder class
    the base sessionizer can only drop-and-count — folds in exact
    event-time order and yields the batch sessions byte-for-byte,
    INCLUDING the session-bridging merge (2:40→3:00 gap is 20m, so
    the late pair fuses with the later session). A straggler older
    than the watermark is still counted into n_late."""
    import pandas as pd

    from weather_analysis_bigdata__spark.streaming.sessionize import (
        sessionize_stream_reorder,
    )

    t0 = pd.Timestamp("2024-03-01 12:00:00")
    m = pd.Timedelta(minutes=1)

    def write_batch(dirpath, name, mtime, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [float(r[0]) for r in rows],
            }
        )
        path = os.path.join(dirpath, name)
        pdf.to_parquet(path, coerce_timestamps="us")
        os.utime(path, (mtime, mtime))

    out = tempfile.mkdtemp(prefix=f"reorder_{uuid.uuid4().hex[:8]}_")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    old_ndm = spark.conf.get("spark.sql.streaming.noDataMicroBatches", None)
    try:
        t = 1_700_000_000
        # batch 0: sessions [0:00,0:10] and (3:00,3:10) — gap 2h50m
        write_batch(
            out, "b0.parquet", t,
            [(1, t0), (2, t0 + 10 * m), (3, t0 + 180 * m), (4, t0 + 190 * m)],
        )
        # batch 1: LATE pair at 2:30/2:40 — before the open session's
        # start (3:00) but within the 2h watermark (wm = 3:10 − 2h =
        # 1:10) → must fold, bridging into [2:30, 3:10]; plus one
        # straggler at 0:30 < wm → counted
        write_batch(
            out, "b1.parquet", t + 2,
            [(5, t0 + 150 * m), (6, t0 + 160 * m), (7, t0 + 30 * m)],
        )
        # batch 2: far-future sentinel advances the watermark past
        # everything; the trailing no-data batch fires the event-time
        # timeouts that fold and close the pending sessions
        write_batch(out, "b2.parquet", t + 4, [(8, t0 + pd.Timedelta(days=30))])

        # the timeout flush rides the trailing no-data micro-batch
        spark.conf.set("spark.sql.streaming.noDataMicroBatches", "true")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        sink = f"reorder_{uuid.uuid4().hex[:8]}"
        q = (
            sessionize_stream_reorder(stream, watermark="2 hours")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = sorted(
            spark.table(sink).collect(), key=lambda r: r.session_start
        )
    finally:
        if old_ndm is None:
            spark.conf.unset("spark.sql.streaming.noDataMicroBatches")
        else:
            spark.conf.set("spark.sql.streaming.noDataMicroBatches", old_ndm)
        shutil.rmtree(out, ignore_errors=True)

    assert [
        (r.user_id, r.session_start, r.session_end, r.n_events, r.n_late)
        for r in rows
    ] == [
        # the straggler (event 7) was counted against the session open
        # at its arrival — the first session, closed first
        (1, t0, t0 + 10 * m, 2, 1),
        # the late pair folded in order and BRIDGED into the later
        # session — the batch result on the union, which the base
        # sessionizer cannot produce (it would emit (3:00, 3:10))
        (1, t0 + 150 * m, t0 + 190 * m, 4, 0),
    ]
    assert rows[0].sum_value == 3.0  # events 1+2
    assert rows[1].sum_value == 18.0  # events 5+6+3+4


def test_watermark_drops_late_rows(spark):
    """Event-time watermark semantics: the streaming aggregation must
    DROP input older than the committed watermark (update mode). The
    late-data filter uses the watermark committed at the end of the
    PREVIOUS batch, so three single-file micro-batches: batch 0 advances
    event time to T0+3h11m, batch 1 commits that watermark (T0+2h11m),
    batch 2 delivers two T0 events (too late) and one fresh event."""
    from pyspark.sql import types as T

    from weather_analysis_bigdata__spark.streaming.windows import (
        _events_raw_schema,
        stream_events,
        tumbling_agg,
    )

    # Build the fixture in the nanos-as-long encoding; stream_events must
    # detect it from the footer and normalize (the other encoding is
    # exercised by every replay test over the driver's events.parquet).
    events_long_schema = _events_raw_schema(T.LongType())

    t0_s = 1_700_000_000 - (1_700_000_000 % 3600)  # hour-aligned
    ns = lambda off_s: (t0_s + off_s) * 1_000_000_000  # noqa: E731

    def mk(rows):
        return spark.createDataFrame(
            [(i, ns(off), 1, "click", 1.0, "{}") for i, off in enumerate(rows)],
            events_long_schema,
        )

    batches = [
        mk([3 * 3600, 3 * 3600 + 300, 3 * 3600 + 600, 3 * 3600 + 660]),
        mk([3 * 3600 + 1200]),  # commits the batch-0 watermark
        mk([0, 60, 4 * 3600 + 900]),  # 2 late (T0) + 1 fresh (T0+4h)
    ]

    src_dir = tempfile.mkdtemp(prefix="wm_drop_")
    sink = f"wm_drop_{uuid.uuid4().hex[:8]}"
    try:
        for i, b in enumerate(batches):
            stage = os.path.join(src_dir, f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            dst = os.path.join(src_dir, f"{i:03d}.parquet")
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 100,) * 2)
        agg = tumbling_agg(
            stream_events(spark, src_dir, max_files_per_trigger=1),
            width="1 hour",
            watermark="1 hour",
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(sink).collect()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    # update mode re-emits a window per refining batch -> keep the max
    by_window: dict[int, int] = {}
    for r in rows:
        key = int(r.window_start.timestamp()) - t0_s
        by_window[key] = max(by_window.get(key, 0), r.n_events)
    assert 0 not in by_window and 60 not in by_window  # late rows dropped
    assert by_window[3 * 3600] == 5  # batch-0 4 rows + batch-1 refinement
    assert by_window[4 * 3600] == 1  # fresh batch-2 row admitted


def test_foreachbatch_incremental_sink(spark, sf_dir):
    """foreachBatch sink pattern: each micro-batch is aggregated and
    merged into a driver-side dict keyed by window — after an
    availableNow replay the merged state must equal the batch
    aggregate of the same file (stream ≡ batch through a custom sink)."""
    from weather_analysis_bigdata__spark.streaming.windows import (
        stream_events,
        tumbling_agg,
    )

    src_dir = tempfile.mkdtemp(prefix="feb_sink_")
    merged: dict = {}
    try:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src_dir, "part-000.parquet"),
        )

        def merge_batch(batch_df, batch_id):
            for r in batch_df.collect():
                key = (r.window_start, r.event_type)
                n, s = merged.get(key, (0, 0.0))
                merged[key] = (n + r.n_events, s + r.sum_value)

        agg = tumbling_agg(stream_events(spark, src_dir))
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    from weather_analysis_bigdata__spark.sources.files import load_table

    batch = (
        tumbling_agg(load_table(spark, sf_dir, "events"))
        .collect()
    )
    expect = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch
    }
    # update-mode re-emissions refine earlier values; with a single
    # input file every key is emitted exactly once, so plain merge works
    assert merged == expect


def test_streaming_dedup_suppresses_cross_batch_duplicates(spark, sf_dir):
    """A duplicate re-delivered in a LATER micro-batch must still be
    suppressed: dropDuplicatesWithinWatermark state spans batches for
    the watermark horizon (here ≫ the data's time span)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_analysis_bigdata__spark.streaming.joins import dedup_replay

    src = os.path.join(sf_dir, "events.parquet")
    out = tempfile.mkdtemp(prefix=f"dedup_split_{uuid.uuid4().hex[:8]}_")
    try:
        t = pq.read_table(src)
        pq.write_table(t, os.path.join(out, "a_originals.parquet"))
        mask = t["event_id"].to_numpy() % 5 == 0
        pq.write_table(t.filter(pa.array(mask)), os.path.join(out, "b_redelivered.parquet"))
        # maxFilesPerTrigger=1 → the redelivered file is its own batch.
        deduped = dedup_replay(spark, out, max_files_per_trigger=1)
        assert deduped.count() == t.num_rows
        assert deduped.select("event_id").distinct().count() == t.num_rows
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_stream_join_state_bounded_by_range_condition(spark, sf_dir):
    """The interval join's physical plan must carry watermarks on both
    sides (evictable state), and its output must equal the batch
    self-join pair-for-pair."""
    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.joins import interval_join_replay

    pairs = interval_join_replay(spark, os.path.join(sf_dir, "events.parquet"))
    got = {(r.click_id, r.purchase_id) for r in pairs.collect()}

    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = a.join(
        b,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 2 HOURS"
        ),
    )
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want


def test_transform_with_state_running_totals(spark, sf_dir):
    """Spark 4 StatefulProcessor: final change-log state equals batch
    GROUP BY (exact integer state folding). Skipped where the
    transformWithState protobuf protocol is unavailable."""
    pytest.importorskip("google.protobuf")
    from weather_analysis_bigdata__spark.functions.deterministic import dec
    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.twstate import (
        final_totals,
        running_totals_replay,
    )

    log = running_totals_replay(spark, os.path.join(sf_dir, "events.parquet"))
    got = {
        (r.user_id, r.n_events, r.sum_v_int) for r in final_totals(log).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((dec("value") * 100).cast("long")).alias("sum_v_int"),
        )
    )
    want = {(r.user_id, r.n_events, r.sum_v_int) for r in batch.collect()}
    assert got == want


def test_interval_left_join_emits_unmatched(spark, sf_dir):
    """The left-outer stream-stream join must emit null-matched clicks
    (watermark-flushed via the sentinel batches), and every click must
    appear exactly once OR once-per-match."""
    import os

    from weather_analysis_bigdata__spark.streaming.joins import (
        interval_left_join_replay,
    )

    rows = interval_left_join_replay(
        spark, os.path.join(sf_dir, "events.parquet")
    ).collect()
    assert rows
    matched = [r for r in rows if r.purchase_id is not None]
    unmatched = [r for r in rows if r.purchase_id is None]
    assert matched and unmatched  # both paths exercised
    # A click is either unmatched exactly once, or matched ≥1 times —
    # never both.
    from collections import defaultdict

    seen = defaultdict(lambda: [0, 0])
    for r in rows:
        seen[r.click_id][0 if r.purchase_id is not None else 1] += 1
    for cid, (m, u) in seen.items():
        assert (u == 0 and m >= 1) or (u == 1 and m == 0), (cid, m, u)

def test_foreachbatch_upsert_split_invariant(spark, sf_dir):
    """The versioned-parquet foreachBatch MERGE must equal the batch
    aggregate whatever the micro-batch split (2 vs 5 splits), proving
    partial-merge associativity end to end."""
    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.foreach_batch import (
        foreachbatch_upsert_replay,
    )

    src = os.path.join(sf_dir, "events.parquet")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    expect = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    for n_splits in (2, 5):
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in foreachbatch_upsert_replay(spark, src, n_splits).collect()
        }
        assert got == expect, f"splits={n_splits}"


def test_streaming_session_window_equals_batch_native(spark, sf_dir):
    """Native session_window through the streaming engine ≡ the same
    build in batch mode (the engine merges windows across micro-batches
    to the identical final state)."""
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.queries_streaming import (
        streaming_session_window_replay,
    )
    from weather_analysis_bigdata__spark.sources.files import load_table

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in streaming_session_window_replay(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .collect()
    }
    assert got == batch
