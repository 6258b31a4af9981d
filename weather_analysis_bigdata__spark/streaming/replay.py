"""The foreachBatch segment replay: one harness for every replay whose
result is a scan of per-micro-batch published segments.

Shape: stage the source as parquet files, stream them with
``maxFilesPerTrigger=1`` under an ``availableNow`` trigger, and in
``foreachBatch`` publish ``per_batch(batch_df, batch_id)`` as an
overwrite-mode ``seg_{batch_id}`` directory — deterministic per batch,
so at-least-once redelivery is idempotent. Each micro-batch is
persisted while its kernel runs, so the source is scanned once per
batch however many branches the kernel has. The result is the lazy scan
of every published segment, distributed at any SF.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from weather_analysis_bigdata__spark.operators import index_store

#: files a DataFrame source is staged into — one micro-batch each
_SOURCE_FILES = 4
#: mtime of slice 0; slice i gets ``_SLICE_MTIME0 + i``
_SLICE_MTIME0 = 1_700_000_000


def place_slice(path: str, src_dir: str, i: int) -> None:
    """Copy the parquet file ``path`` into ``src_dir`` as slice ``i``:
    ``{i:03d}.parquet`` with mtime ``_SLICE_MTIME0 + i``.
    FileStreamSource delivers files oldest-mtime first, so with
    ``maxFilesPerTrigger=1`` slice ``i`` arrives as micro-batch ``i``."""
    dst = os.path.join(src_dir, f"{i:03d}.parquet")
    shutil.copy(path, dst)
    os.utime(dst, (_SLICE_MTIME0 + i,) * 2)


def stage_slice(df: DataFrame, src_dir: str, i: int) -> None:
    """Write ``df`` as one file and place it as slice ``i``."""
    stage = os.path.join(src_dir, f"_stage{i}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f
        for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    place_slice(os.path.join(stage, part), src_dir, i)
    shutil.rmtree(stage)


def replay_segments(
    spark: SparkSession,
    source: Union[DataFrame, Sequence[DataFrame]],
    per_batch: Callable[[DataFrame, int], DataFrame],
    prefix: str,
) -> DataFrame:
    """Replay ``source`` through the streaming engine, publishing
    ``per_batch(batch_df, batch_id)`` per micro-batch, and return the
    lazy scan of the published segments.

    ``source`` is either a DataFrame, staged as ``_SOURCE_FILES``
    files (batch membership is whatever the repartition gives), or a
    list of slices, staged one file each so that ``batch_id`` ``i`` is
    slice ``i`` — for replays whose output carries batch identity.

    Segments go to ``index_store.replay_segment_dir(prefix)``, which
    outlives this call because the returned scan is lazy; the staged
    source is removed before returning.
    """
    seg_dir = index_store.replay_segment_dir(prefix)
    src_dir = tempfile.mkdtemp(prefix=f"{prefix}_src_")
    try:
        if isinstance(source, DataFrame):
            schema = source.schema
            source.repartition(_SOURCE_FILES).write.mode("overwrite").parquet(
                src_dir
            )
        else:
            schema = source[0].schema
            for i, sl in enumerate(source):
                stage_slice(sl, src_dir, i)

        def publish(bdf: DataFrame, batch_id: int) -> None:
            # a kernel with several branches over the batch would
            # otherwise re-run the source scan once per branch
            bdf.persist()
            try:
                per_batch(bdf, batch_id).write.mode("overwrite").parquet(
                    os.path.join(seg_dir, f"seg_{batch_id}")
                )
            finally:
                bdf.unpersist()

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(publish)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    return index_store.read_replay_segments(spark, seg_dir)
