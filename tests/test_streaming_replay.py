"""The shared foreachBatch segment-replay harness
(streaming/replay.py): its batch-identity and lifetime contract, the
stream ≡ batch oracles of the replays no other test covers, the
structural guard that keeps query modules on the harness, and the
bench's measured streaming input volume."""

from __future__ import annotations

import glob
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "weather_analysis_bigdata__spark",
)


def test_replay_segments_slice_order_and_lifetime(spark):
    """Slice i arrives as micro-batch i; the staged source is gone when
    the call returns, while the returned scan stays readable."""
    from weather_analysis_bigdata__spark.streaming.replay import (
        replay_segments,
    )

    prefix = "replaytest"
    staged = os.path.join(tempfile.gettempdir(), f"{prefix}_src_*")
    before = set(glob.glob(staged))
    # slices deliberately sized out of order so no size/name heuristic
    # could produce the right batch ids by accident
    slices = [
        spark.range(100 * i, 100 * i + n).withColumn("slice", F.lit(i))
        for i, n in enumerate((30, 5, 60))
    ]
    out = replay_segments(
        spark,
        slices,
        lambda bdf, batch_id: bdf.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ),
        prefix,
    )
    assert set(glob.glob(staged)) == before
    rows = out.groupBy("slice", "batch_id").count().collect()
    assert sorted((r.slice, r.batch_id, r["count"]) for r in rows) == [
        (0, 0, 30),
        (1, 1, 5),
        (2, 2, 60),
    ]


@pytest.mark.parametrize(
    "name",
    [
        "streaming_classifier_gate_replay",
        "streaming_drift_gate_replay",
        "streaming_quality_gate_replay",
        "streaming_span_dedup_replay",
    ],
)
def test_replay_matches_registry_oracle(spark, sf_dir, name, monkeypatch):
    from tools.check_oracle import duck_conn, normalize

    # corpus-derived oracles bind to this SF, as tools/check_oracle.py does
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    from weather_analysis_bigdata__spark.registry import all_queries

    q = all_queries()[name]
    got = q.fn(spark, sf_dir).toPandas()
    want = duck_conn(sf_dir).execute(q.oracle_text()).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert normalize(got).equals(normalize(want))


def test_query_modules_have_no_private_foreachbatch():
    """Query modules replay through streaming/replay.py; a hand-rolled
    ``foreachBatch(`` harness in a query module is the copy-paste the
    shared helper replaced."""
    offenders = [
        os.path.basename(p)
        for p in sorted(glob.glob(os.path.join(_PKG, "queries_*.py")))
        if "foreachBatch(" in pathlib.Path(p).read_text()
    ]
    assert offenders == []


def test_counted_input_rows_is_source_rows(spark, sf_dir):
    """bench.py's streaming input volume is the rows staged into the
    replay's source, each counted once: the events table for the
    tumbling replay, only the IVF query vectors for the ANN serve
    replay, and the synthesized arriving batch for the router, whose
    kernel branches over its micro-batch six ways (the harness persists
    the batch, so the source is scanned once)."""
    from bench import counted_input_rows

    from weather_analysis_bigdata__spark.queries_llmops import _IVF_QUERIES
    from weather_analysis_bigdata__spark.queries_round5 import _router_batch_df
    from weather_analysis_bigdata__spark.registry import all_queries
    from weather_analysis_bigdata__spark.sources.files import load_table

    registry = all_queries()
    emb = load_table(spark, sf_dir, "embeddings")
    expected = {
        "streaming_tumbling_replay": load_table(
            spark, sf_dir, "events"
        ).count(),
        "streaming_ann_serve_replay": emb.filter(
            F.col("vec_id") < _IVF_QUERIES
        ).count(),
        "streaming_multimodal_router_replay": _router_batch_df(
            spark, sf_dir
        ).count(),
    }
    for name, n in expected.items():
        prep = registry[name].prepare
        if prep is not None:
            prep(spark, sf_dir)
        with counted_input_rows(spark) as counted:
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        assert counted.rows == n, name
