"""Streaming queries exposed through the driver contract.

``streaming_tumbling_replay`` actually runs the Structured Streaming
engine (parquet stream → watermark → window agg → availableNow trigger →
memory sink) and returns the final state; its oracle is plain batch SQL
— passing proves stream/batch equivalence, the fundamental streaming
correctness property.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from weather_analysis_bigdata__spark.functions.deterministic import sql_dsum
from weather_analysis_bigdata__spark.registry import register


@register(
    "streaming_tumbling_replay",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window aggregation executed by the "
    "Structured Streaming engine (availableNow replay of the events "
    "parquet through a file stream → memory sink), checked against batch "
    "SQL — stream/batch equivalence is the correctness gate. See "
    "streaming/windows.py for the watermark/state design.",
)
def streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_build_to_memory,
        tumbling_agg,
        tumbling_agg_schema,
    )

    return replay_build_to_memory(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        tumbling_agg,
        tumbling_agg_schema(),
    )


@register(
    "streaming_sliding_replay",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        AS b, value FROM events
    )
    SELECT b AS window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM assigned GROUP BY 1
    """,
    doc="Sliding-window (1h width / 30m slide) aggregation run by the "
    "Structured Streaming engine (availableNow replay → memory sink) "
    "and checked against the batch double-assignment SQL — the same "
    "stream≡batch equivalence gate as the tumbling query, now with "
    "overlapping-window state (horizon/slide windows live per key; "
    "still bounded by the watermark).",
)
def streaming_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_build_to_memory,
        sliding_agg,
    )

    schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("n_events", T.LongType(), nullable=False),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    return replay_build_to_memory(
        spark, os.path.join(sf_dir, "events.parquet"), sliding_agg, schema
    )


@register(
    "streaming_static_join_replay",
    oracle=f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events JOIN customer ON c_custkey = user_id + 1
    GROUP BY 1, 2
    """,
    doc="Stream ⋈ static enrichment: the events stream joined to the "
    "customer dimension (user_id+1 = c_custkey on this corpus) inside "
    "the streaming engine, then watermarked tumbling aggregation per "
    "market segment — replayed availableNow and checked against the "
    "batch join SQL. The static side broadcasts into each micro-batch "
    "(no stream-side shuffle before the agg); at 100 TB the dim "
    "refreshes per batch and the state stays (window × segment).",
)
def streaming_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_build_to_memory,
        stream_static_join_agg,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("n_events", T.LongType(), nullable=False),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    return replay_build_to_memory(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda ev: stream_static_join_agg(ev, dim),
        schema,
    )


@register(
    "streaming_interval_join_replay",
    oracle="""
    SELECT a.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(b.ts) AS TIMESTAMP) AS first_purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 hours'
    GROUP BY a.user_id
    """,
    doc="Stream-stream inner join with an event-time range condition "
    "(click ⋈ purchase per user within 2 h), executed by the Structured "
    "Streaming engine — both sides watermarked, availableNow replay into "
    "an append-mode memory sink, pairs aggregated batch-side — checked "
    "against the batch self-join SQL. The bounded range condition is "
    "what makes join state evictable (streaming/joins.py); an unbounded "
    "stream-stream join would pin both sides' state forever.",
)
def streaming_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.streaming.joins import interval_join_replay

    pairs = interval_join_replay(spark, os.path.join(sf_dir, "events.parquet"))
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("p_ts").alias("first_purchase_ts"),
    )


def _ensure_atleastonce_fixture(sf_dir: str) -> str:
    """Write the at-least-once input (events + a re-delivered 10% slice)
    once per sf_dir; idempotent. Exposed as the query's ``prepare`` hook
    so bench.py builds it OFF the timed path (round-2 item: the fixture
    write polluted streaming_dedup_replay's first timed run)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    # Key by path AND content (size+mtime): deterministic across
    # processes (unlike builtin hash(), which is seed-randomized) and
    # self-invalidating when the driver regenerates testdata.
    st = os.stat(src)
    key = hashlib.md5(
        f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    tmp = f"/tmp/spark_graft_atleastonce_{key}"
    if not os.path.isdir(tmp):
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(src)
        pq.write_table(t, os.path.join(tmp, "part0_full.parquet"))
        mask = t["event_id"].to_numpy() % 10 == 0
        dup = t.filter(pa.array(mask))
        pq.write_table(dup, os.path.join(tmp, "part1_redelivered.parquet"))
    return tmp


@register(
    "streaming_dedup_replay",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Streaming exactly-once repair of an at-least-once input: the "
    "events table plus a re-delivered 10% slice (event_id % 10 = 0, "
    "written as a second parquet file) streams through "
    "dropDuplicatesWithinWatermark(event_id), so the duplicates vanish "
    "and the per-type totals equal plain batch aggregation over the "
    "ORIGINAL table — the oracle never sees the duplicates. Dedup state "
    "is one entry per key within the watermark horizon "
    "(streaming/joins.py; cross-micro-batch suppression pinned in "
    "tests/test_streaming.py).",
    prepare=lambda spark, sf_dir: _ensure_atleastonce_fixture(sf_dir),
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.functions.deterministic import dec
    from weather_analysis_bigdata__spark.streaming.joins import dedup_replay

    tmp = _ensure_atleastonce_fixture(sf_dir)
    deduped = dedup_replay(spark, tmp)
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks protobuf to its state server;
    the operator (streaming/twstate.py) is real but can only REGISTER
    where google.protobuf exists (environment-gated per the repo's
    no-new-installs rule)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


if _has_protobuf():
    _register_stateful = register
else:  # pragma: no cover - environment without protobuf
    def _register_stateful(*a, **k):
        def wrap(fn):
            return fn

        return wrap


@_register_stateful(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_v_int
    FROM events GROUP BY user_id
    """,
    doc="Per-user running totals via Spark 4's transformWithStateInPandas "
    "(StatefulProcessor + ValueState on RocksDB — the successor API to "
    "applyInPandasWithState): each micro-batch folds new rows into "
    "(count, exact scaled-integer sum) state and emits the cumulative "
    "totals; the final change-log entry per user must equal the batch "
    "GROUP BY — integer state folding makes that equality exact "
    "regardless of how replay batches split (streaming/twstate.py).",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.streaming.twstate import (
        final_totals,
        running_totals_replay,
    )

    log = running_totals_replay(spark, os.path.join(sf_dir, "events.parquet"))
    return final_totals(log)


@register(
    "streaming_file_sink_replay",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
    doc="Exactly-once PARQUET FILE SINK (the production sink — memory "
    "sinks are test scaffolding): a stateless filter+projection streamed "
    "availableNow into a checkpointed file sink, whose _spark_metadata "
    "transaction log makes only committed files visible to readers. The "
    "committed output is scanned back as a batch table and aggregated; "
    "equality with batch SQL over the SOURCE proves no row was lost or "
    "duplicated through the sink. At 100 TB this is the landing path "
    "for every streaming ETL hop; checkpoint + log give replayable "
    "exactly-once across restarts.",
)
def streaming_file_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.functions.deterministic import dsum
    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_to_file_sink,
    )

    out = replay_to_file_sink(spark, os.path.join(sf_dir, "events.parquet"))
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "streaming_interval_left_join_replay",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.user_id, c.click_id, p.purchase_id
      FROM clicks c LEFT JOIN purchases p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(COUNT(DISTINCT CASE WHEN purchase_id IS NULL
                                    THEN click_id END) AS BIGINT)
             AS n_unmatched_clicks
    FROM j
    GROUP BY user_id
    """,
    doc="Stream-stream LEFT OUTER interval join run by the streaming "
    "engine: matched click→purchase pairs emit eagerly; unmatched "
    "clicks emit with nulls only once the watermark PROVES the horizon "
    "closed — the hardest stream-stream semantic (state must hold the "
    "outer side until expiry, then emit exactly once). The replay "
    "harness appends far-future sentinel batches as an end-of-stream "
    "marker so the final watermark flushes every pending null emission "
    "(see streaming/joins.py::interval_left_join_replay); equality "
    "with the batch LEFT JOIN proves both the match results and the "
    "expiry bookkeeping. State is bounded by watermark + horizon on "
    "both sides at any scale.",
)
def streaming_interval_left_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.streaming.joins import (
        interval_left_join_replay,
    )

    rows = interval_left_join_replay(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    return rows.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("purchase_id").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_matched"),
        F.countDistinct(
            F.when(F.col("purchase_id").isNull(), F.col("click_id"))
        ).alias("n_unmatched_clicks"),
    )


@register(
    "streaming_foreachbatch_upsert",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="foreachBatch MERGE — streaming aggregation into a batch-only "
    "sink (warehouse table / KV store): the source replays as 4 "
    "sequential micro-batches, each merging its per-user DECIMAL "
    "partials into a versioned parquet target (the file-based MERGE "
    "INTO analogue; batch_id + overwrite gives idempotent "
    "exactly-once). The final target hash-matches the batch aggregate "
    "over the whole source, proving split-invariance of the partial "
    "merge. Unlike watermarked operators, state lives in the TARGET — "
    "the pattern for unbounded key spaces (lifetime user totals) where "
    "state-store eviction is impossible. See "
    "streaming/foreach_batch.py.",
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.streaming.foreach_batch import (
        foreachbatch_upsert_replay,
    )

    return foreachbatch_upsert_replay(
        spark, os.path.join(sf_dir, "events.parquet")
    )


@register(
    "streaming_interval_full_join_replay",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT COALESCE(c.user_id, p.user_id) AS user_id,
             c.click_id, p.purchase_id
      FROM clicks c FULL OUTER JOIN purchases p
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN click_id IS NOT NULL
                          AND purchase_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(COUNT(DISTINCT CASE WHEN purchase_id IS NULL
                                    THEN click_id END) AS BIGINT)
             AS n_unmatched_clicks,
           CAST(COUNT(DISTINCT CASE WHEN click_id IS NULL
                                    THEN purchase_id END) AS BIGINT)
             AS n_unmatched_purchases
    FROM j
    GROUP BY user_id
    """,
    doc="Stream-stream FULL OUTER interval join — the final cell of the "
    "stream-join matrix (inner / left-outer / full-outer, all "
    "watermark-proved): matched pairs emit eagerly, unmatched CLICKS "
    "emit with nulls when their horizon closes, and unmatched "
    "PURCHASES emit with nulls once the watermark proves no candidate "
    "click window can still arrive — state expires on BOTH sides, the "
    "most bookkeeping-heavy stream-stream semantic Spark supports. "
    "Same sentinel end-of-stream harness as the left-outer replay "
    "(streaming/joins.py, shared implementation); equality with the "
    "batch FULL JOIN proves match results and both expiry paths. "
    "State stays bounded by watermark + horizon per side at any "
    "scale.",
)
def streaming_interval_full_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.streaming.joins import (
        interval_full_join_replay,
    )

    rows = interval_full_join_replay(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    return rows.groupBy(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("click_id").isNotNull()
                & F.col("purchase_id").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
        F.countDistinct(
            F.when(F.col("purchase_id").isNull(), F.col("click_id"))
        ).alias("n_unmatched_clicks"),
        F.countDistinct(
            F.when(F.col("click_id").isNull(), F.col("purchase_id"))
        ).alias("n_unmatched_purchases"),
    )


def _session_window_oracle() -> str:
    # Module-level constant import (the SQL_CC_COMP pattern) — no
    # private-registry read, no import-order coupling.
    from weather_analysis_bigdata__spark.queries_datapipe import (
        SQL_SESSION_WINDOW,
    )

    return SQL_SESSION_WINDOW


@register(
    "streaming_session_window_replay",
    oracle=_session_window_oracle(),
    doc="NATIVE session windows under the STREAMING engine — the cell "
    "that completes the sessionization matrix: gaps-and-islands SQL "
    "(events_sessionize_30m, batch), custom applyInPandasWithState "
    "(streaming/sessionize.py), native session_window in batch "
    "(session_window_native), and now native session_window with "
    "watermarked state merged by the engine across micro-batches "
    "(dynamic-gap windows grow/merge as late-ish events arrive — "
    "state the engine keeps per open session and evicts past the "
    "watermark). availableNow replay into a complete-mode memory "
    "sink; the oracle is session_window_native's gaps-and-islands "
    "SQL VERBATIM, so batch-native, stream-native, and hand-built "
    "SQL sessions are all proven to be the same function.",
)
def streaming_session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from weather_analysis_bigdata__spark.streaming.windows import (
        replay_build_to_memory,
    )

    def build(s):
        return (
            s.withWatermark("ts", "2 hours")
            .groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("sw")
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    return replay_build_to_memory(
        spark, os.path.join(sf_dir, "events.parquet"), build, schema
    )


# ---------------------------------------------------------------------------
# Streaming MinHash index maintenance (round 4): foreachBatch segment
# publish, stream-built index ≡ batch-built index
# ---------------------------------------------------------------------------
def _sql_band_summary() -> str:
    from weather_analysis_bigdata__spark.functions.textops import (
        sql_hex15_to_long,
    )
    from weather_analysis_bigdata__spark.queries_llmops import (
        _sql_band_keys,
        _sql_minhash_cols,
        SQL_SHINGLES,
    )

    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig"
        for b, key in enumerate(_sql_band_keys(8, 4))
    )
    item = sql_hex15_to_long(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(band_id AS VARCHAR)"
        " || ':' || band_key)"
    )
    return f"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    {SQL_SHINGLES.strip()},
    sig AS (SELECT doc_id, {_sql_minhash_cols(8)} FROM sh GROUP BY doc_id),
    bands AS ({bands}),
    summary AS (
      SELECT band_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT band_key) AS BIGINT) AS n_distinct_keys,
             CAST(SUM(({item}) % 1099511627776) AS BIGINT) AS key_checksum
      FROM bands GROUP BY band_id
    )
    SELECT CAST(band_id AS BIGINT) AS band_id, n_docs, n_distinct_keys,
           key_checksum
    FROM summary
    """


@register(
    "streaming_minhash_index_replay",
    oracle=_sql_band_summary(),
    doc="STREAMING index maintenance — the corpus MinHash band index "
    "maintained by the streaming engine instead of a batch job: "
    "documents replay in 4 micro-batches (availableNow, one file per "
    "trigger) and foreachBatch computes each batch's band signatures "
    "and publishes them as a SEGMENT (a per-batch_id directory, "
    "overwrite-mode — deterministic per batch, so at-least-once "
    "redelivery is idempotent: the exactly-once recipe every "
    "segment-based indexer uses). The registered result is a per-band "
    "summary (doc count, distinct band keys, order-independent "
    "md5-mod checksum over (doc, band, key)) computed FROM the "
    "stream-built segments; the oracle computes the same summary by "
    "rebuilding the band table from scratch in SQL — the hash match "
    "proves stream-built ≡ batch-built, i.e. index maintenance "
    "commutes with micro-batching (the additive-state argument of "
    "minhash_signature_merge, now under the streaming engine with "
    "segment publishing). At 100 TB this is the ingest half of "
    "dedup_minhash_incremental: arriving docs sign themselves into "
    "segments; periodic compaction folds segments into the persisted "
    "index the probe side scans.",
)
def streaming_minhash_index_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.functions.textops import (
        hex15_to_long,
        md5s,
    )
    from weather_analysis_bigdata__spark.queries_llmops import _minhash_bands
    from weather_analysis_bigdata__spark.sources.files import load_table
    from weather_analysis_bigdata__spark.streaming.replay import (
        replay_segments,
    )

    built = replay_segments(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        lambda bdf, _: _minhash_bands(bdf).select(
            "doc_id", "band_id", "band_key"
        ),
        "mhidx",
    )
    item = (
        hex15_to_long(
            md5s(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("band_id").cast("string"),
                    F.col("band_key"),
                )
            )
        )
        % F.lit(1099511627776)
    )
    return built.groupBy(F.col("band_id").cast("long").alias("band_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("band_key").cast("long").alias("n_distinct_keys"),
        F.sum(item).cast("long").alias("key_checksum"),
    )
