"""Stream-stream interval join and streaming deduplication.

The two remaining stateful-operator classes after windowed aggregation
(streaming/windows.py) and custom session state (streaming/sessionize.py):

- **Stream-stream inner join with an event-time range condition** —
  click ⋈ purchase per user within a bounded horizon. Both sides are
  watermarked and the join condition bounds event time on both sides,
  so the state store provably evicts: each side retains only rows
  inside its watermark + join-horizon window (Spark derives the state
  watermark from the range condition — unbounded conditions would pin
  state forever).
- **Streaming deduplication** — ``dropDuplicatesWithinWatermark`` on
  the event key: exactly-once semantics over an at-least-once input
  (the classic Kafka-replay repair). State is one entry per key inside
  the watermark horizon, evicted as event time advances.

Both are exercised by availableNow replay into a memory sink and gated
on stream ≡ batch equality (the repo's standard streaming gate): the
join against the batch self-join SQL, the dedup against batch DISTINCT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.streaming.replay import place_slice, stage_slice
from weather_analysis_bigdata__spark.streaming.windows import as_stream_dir, stream_events
from weather_analysis_bigdata__spark.session import pin_ephemeral


def _sink(joined: DataFrame, name: str) -> DataFrame:
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return joined.sparkSession.table(name)


#: State partition count for the interval-join replays. Stream-stream
#: joins keep FOUR state stores per partition (left/right ×
#: keyToNumValues/keyWithIndexToValue), and every micro-batch pays a
#: per-store commit plus a full-store eviction scan when the watermark
#: advances — so per-batch overhead is O(partitions × 4 stores), paid
#: whether or not a partition holds state. The replay's state is
#: ~100k rows; 8 partitions hold it comfortably and measured 4× faster
#: than 32 (PERF.md round-5). This is the capacity knob a production
#: deployment RAISES with state volume: size it to state ÷
#: (store-throughput × batch-interval), not to the batch-analytics
#: shuffle default.
_JOIN_STATE_PARTITIONS = 8


class _scoped_conf:
    """Scoped override of session confs — restored on exit so batch
    plans keep the session defaults."""

    def __init__(self, spark: SparkSession, confs: dict):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        # get(k, None): confs never set on the session (e.g.
        # noDataMicroBatches at its engine default) have no value to
        # read back — restore by unsetting instead.
        self.old = {k: self.spark.conf.get(k, None) for k in self.confs}
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


class _state_partitions(_scoped_conf):
    """Scoped override of spark.sql.shuffle.partitions (which fixes a
    streaming query's state-partition count at start)."""

    def __init__(self, spark: SparkSession, n: int):
        super().__init__(spark, {"spark.sql.shuffle.partitions": str(n)})


def interval_join_replay(
    spark: SparkSession,
    events_dir: str,
    horizon: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """click→purchase pairs per user within ``horizon``, streamed.

    Returns the raw joined pairs from the memory sink (append mode);
    callers aggregate batch-side.
    """
    name = f"ssj_{abs(hash((events_dir, horizon))) % 10**8}"
    events_dir = as_stream_dir(events_dir)
    base = stream_events(spark, events_dir)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
    )
    with _state_partitions(spark, _JOIN_STATE_PARTITIONS):
        return _sink(joined, name)


def dedup_replay(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "365 days",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streamed exactly-once repair of an at-least-once input.

    ``dropDuplicatesWithinWatermark`` keeps per-key state for the
    watermark horizon — duplicates arriving in LATER micro-batches are
    still suppressed as long as they land inside the horizon (the test
    replays a duplicate in a separate file/batch to pin exactly that).
    """
    name = f"sdd_{abs(hash((events_dir, watermark))) % 10**8}"
    base = stream_events(spark, events_dir, max_files_per_trigger)
    deduped = base.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _sink(deduped, name)


def interval_left_join_replay(
    spark: SparkSession,
    events_parquet: str,
    horizon: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (see the shared harness)."""
    return _interval_outer_join_replay(
        spark, events_parquet, "leftOuter", horizon, watermark
    )


def interval_full_join_replay(
    spark: SparkSession,
    events_parquet: str,
    horizon: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: unmatched rows on BOTH
    sides emit with nulls once the watermark proves expiry — clicks
    after their horizon closes, purchases after any candidate click's
    window has passed."""
    return _interval_outer_join_replay(
        spark, events_parquet, "fullOuter", horizon, watermark
    )


def _interval_outer_join_replay(
    spark: SparkSession,
    events_parquet: str,
    join_type: str,
    horizon: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream OUTER interval join harness: every click matched to
    purchases within ``horizon``; outer-side rows emit with nulls once
    the watermark PROVES no match can arrive.

    The outer side only emits when the watermark passes click_ts +
    horizon — so a plain availableNow replay would swallow the
    unmatched clicks near the end of the data (the watermark dies with
    the input). The harness therefore stages two far-future SENTINEL
    rows (user_id −1, +30d click and +60d purchase) as ONE extra
    micro-batch file: they push the watermark beyond every real
    click's horizon, and the engine's trailing no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches, pinned true for the
    replay's scope — never inherited from the session) then
    flushes all pending null-emissions before termination — the
    streaming analogue of an end-of-stream marker. Round 5: the
    sentinels previously arrived as TWO files/batches; one suffices
    (row-identical output, verified) and each dropped batch saves a
    full per-partition state-store commit + eviction sweep — see
    _JOIN_STATE_PARTITIONS for the per-batch cost model.
    Sentinels are filtered from the returned rows.
    """
    import datetime
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import types as T

    run_id = uuid.uuid4().hex[:10]
    src_dir = tempfile.mkdtemp(prefix=f"ssloj_{run_id}_")
    name = f"ssloj_{run_id}"
    place_slice(events_parquet, src_dir, 0)

    # Conf must precede the probe read: a TIMESTAMP(NANOS) drop throws
    # PARQUET_TYPE_ILLEGAL on a fresh session otherwise (mirror
    # sources/files.py:_load_events / streaming/windows.py:stream_events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = spark.read.parquet(events_parquet)
    ts_type = physical.schema["ts"].dataType
    mx = physical.agg(F.max("ts").alias("m")).collect()[0].m
    sent_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    sent_rows = []
    for i, (etype, days) in enumerate([("click", 30), ("purchase", 60)], 1):
        if isinstance(ts_type, T.LongType):
            # nanos-as-long encoding: ts is an int64 of epoch nanoseconds,
            # so the sentinel offset is integer nanoseconds, not timedelta.
            sent_ts = mx + days * 86_400 * 10**9
        else:
            sent_ts = mx + datetime.timedelta(days=days)
        sent_rows.append((10**12 + i, sent_ts, -1, etype, 0.0, "{}"))
    # the events are slice 0, the sentinel file slice 1
    stage_slice(
        spark.createDataFrame(sent_rows, schema=sent_schema), src_dir, 1
    )

    base = stream_events(spark, src_dir, max_files_per_trigger=1)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
        join_type,
    )
    # The single-sentinel flush depends on the trailing no-data
    # micro-batch; pin the conf explicitly (scoped, like the state
    # partitions) instead of relying on the engine default — a session
    # that disabled it would silently swallow the pending null
    # emissions the sentinel exists to flush (round-5 advice).
    with _scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(_JOIN_STATE_PARTITIONS),
            "spark.sql.streaming.noDataMicroBatches": "true",
        },
    ):
        out = _sink(joined, name)
    try:
        # Sentinels carry user -1 on whichever side they came in on; a
        # null side (the outer emission) must pass the filter.
        return out.filter(
            (F.coalesce(F.col("c_user"), F.lit(0)) >= 0)
            & (F.coalesce(F.col("p_user"), F.lit(0)) >= 0)
        ).transform(pin_ephemeral)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
