"""Event-time windowed aggregation over the ``events`` stream.

The reference has no streaming surface (SURVEY.md §2.8) — this is the
engine's net-new streaming story: ``readStream`` → watermarked
event-time window aggregation → sink, with the *same aggregation
expressions* as the batch query ``events_tumbling_1h`` so stream and
batch replay provably agree (tested via the memory-sink harness
``replay_build_to_memory``; registered as ``streaming_tumbling_replay``).

Scale notes: state is keyed by (window, event_type) — bounded by the
watermark horizon × type cardinality, independent of input volume.
``availableNow`` replay processes a backlog with the same code path as
a live stream; on a real cluster the parquet source is swapped for
Kafka without touching the aggregation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_analysis_bigdata__spark.functions.deterministic import dec

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    """events.parquet physical schema; ``ts`` has shipped as either
    TIMESTAMP(NANOS)-as-long or TIMESTAMP(MICROS) — see
    sources.files._load_events for the same batch-side handling."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def as_stream_dir(path: str) -> str:
    """Wrap a single parquet FILE in a directory (symlink) — required
    whenever a plan instantiates the file source more than once (self
    joins, stateful operators): the shared basePath must be a
    directory. Idempotent; returns directories unchanged."""
    if not os.path.isfile(path):
        return path
    wrap = f"/tmp/spark_graft_streamdir_{abs(hash(path)) % 10**8}"
    os.makedirs(wrap, exist_ok=True)
    link = os.path.join(wrap, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return wrap


def stream_events(spark: SparkSession, events_dir: str, max_files_per_trigger: int = 4) -> DataFrame:
    """Open a parquet-directory stream of events with event-time ``ts``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Probe the footer type with a metadata-only batch read so the stream
    # schema matches whichever physical encoding this data drop uses.
    physical_ts = spark.read.parquet(events_dir).schema["ts"].dataType
    raw = (
        spark.readStream.schema(_events_raw_schema(physical_ts))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    if isinstance(physical_ts, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(physical_ts, T.TimestampType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_agg(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling event-time aggregation (streaming or batch).

    Same expression shape as the batch query events_tumbling_1h minus
    COUNT(DISTINCT) (unsupported in streaming aggregations; the batch
    query keeps it). Sums are exact decimal → deterministic replay.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_agg_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType(), nullable=False),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )


def sliding_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING event-time aggregation: each event lands in
    width/slide overlapping windows (2 here); state is keyed per window
    so memory = horizon/slide × groups, still bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def stream_static_join_agg(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream ⋈ static enrichment join, then watermarked tumbling agg
    per dim attribute. The static side is planned as a broadcast into
    every micro-batch (no stream-side shuffle before the agg)."""
    enriched = events.withWatermark("ts", "2 hours").join(
        F.broadcast(dim), "user_id"
    )
    return (
        enriched.groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )


def replay_build_to_memory(
    spark: SparkSession,
    events_parquet: str,
    build,
    schema: T.StructType,
) -> DataFrame:
    """Generic availableNow replay: copy the events parquet into a temp
    stream source dir, apply ``build(stream_df) -> DataFrame``, run the
    streaming engine to a memory sink (complete mode), and return the
    final state as a batch DataFrame with a pinned schema."""
    run_id = uuid.uuid4().hex[:12]
    src_dir = tempfile.mkdtemp(prefix=f"events_stream_{run_id}_")
    sink = f"stream_replay_{run_id}"
    try:
        shutil.copy(events_parquet, os.path.join(src_dir, "part-000.parquet"))
        agg = build(stream_events(spark, src_dir))
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(sink).collect()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema=schema)


def replay_to_file_sink(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Replay events through the streaming engine into a checkpointed
    PARQUET FILE SINK (the production path — memory sinks are test
    scaffolding) and return a batch scan of the committed output.

    The transformation is stateless (filter + projection), so
    exactly-once file-sink semantics mean the committed files contain
    precisely the input rows that pass the filter. The `_spark_metadata`
    transaction log in the output dir is what downstream batch readers
    consult — a torn write never becomes visible. Caller aggregates the
    returned scan; equality with batch SQL over the source is the gate.
    """
    run_id = uuid.uuid4().hex[:12]
    src_dir = tempfile.mkdtemp(prefix=f"events_fsink_src_{run_id}_")
    out_dir = tempfile.mkdtemp(prefix=f"events_fsink_out_{run_id}_")
    ckpt_dir = os.path.join(out_dir, "_checkpoint")
    try:
        shutil.copy(events_parquet, os.path.join(src_dir, "part-000.parquet"))
        ev = stream_events(spark, src_dir)
        kept = ev.filter(F.col("value") > 0).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        q = (
            kept.writeStream.format("parquet")
            .option("path", os.path.join(out_dir, "data"))
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Materialize via the committed file listing before cleanup.
        rows = spark.read.parquet(os.path.join(out_dir, "data")).collect()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)
