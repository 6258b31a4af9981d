"""The benchmark workloads.

Each workload is an object with ``setup()`` (untimed by ``pass_s``,
counted in ``setup_s``), ``inputs_digest()`` and ``run_pass(tracer)``,
which does the workload's whole unit of work once, checks every output
and returns ``[(operation, ok), ...]``. All calls go through the
program's public functions; nothing here reaches inside them.

- ``medallion_refresh``: Bronze -> parquet, Silver -> parquet
  partitioned by year, Gold aggregates collected, over a seeded
  NOAA-shaped input (``noaa.py``). Checked against DuckDB.
- ``query_mix``: two registered queries, one of them an
  ``availableNow`` streaming replay, over the bundled sf0.01 tables in
  an order set by the seed. Each result is collected and its order-insensitive digest
  compared with the DuckDB oracle's.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
import shutil
import sys
import time
import traceback

import pandas as pd

import noaa

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

#: medallion input size: stations x years x 10 datatypes, about 64k raw
#: rows per station.
N_STATIONS = 4
N_YEARS = 20

#: A builder-heavy query (Lloyd iterations, each an eager Spark job
#: with an Arrow centroid-argmin kernel, run before its final action)
#: and one streaming replay into a memory sink, bound by the
#: micro-batch trigger floor.
QUERY_MIX = (
    "ivf_lloyd_convergence",
    "streaming_tumbling_replay",
)


class Tracer:
    """Wall-clock spans around calls into the program.

    Traced, each span also tags the Spark jobs it starts with a job
    group ``<pass>|<name>`` so the event log can be split by span.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.pass_tag = ""
        self.spans: list[dict] = []
        self.catalyst: dict[str, float] = {}

    def start_pass(self, tag: str) -> None:
        self.pass_tag = tag
        self.spans = []
        self.catalyst = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if self.traced:
            group = f"{self.pass_tag}|{name}"
            self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.traced:
                self.sc.setJobGroup("", "")
            self.spans.append({"name": name, "t0": t0, "t1": t1})

    def record_catalyst(self, name: str, df) -> None:
        """Analysis + optimization + planning time of ``df``'s own
        query execution (the one its collect ran on)."""
        if not self.traced:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        total_ms = 0
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                total_ms += opt.get().durationMs()
        self.catalyst[name] = total_ms / 1000.0


# --------------------------------------------------------------------------
# medallion_refresh


class MedallionRefresh:
    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.raw = os.path.join(run_dir, "input", "noaa_long.parquet")
        self.out = os.path.join(run_dir, "medallion")

    def setup(self) -> None:
        from weather_analysis_bigdata__spark.pipeline.schemas import (
            NOAA_LONG_SCHEMA,
            STATION_SCHEMA,
        )

        os.makedirs(os.path.dirname(self.raw), exist_ok=True)
        noaa.write_raw(self.raw, self.seed, N_STATIONS, N_YEARS)
        self.expected = noaa.expected(self.raw)
        self.long_df = self.spark.read.schema(NOAA_LONG_SCHEMA).parquet(self.raw)
        self.dim = self.spark.createDataFrame(
            noaa.stations(self.seed, N_STATIONS), STATION_SCHEMA
        )

    def inputs_digest(self) -> str:
        return noaa.digest(self.raw)

    def run_pass(self, tracer: Tracer) -> list[tuple[str, bool]]:
        from weather_analysis_bigdata__spark.pipeline import gold
        from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
        from weather_analysis_bigdata__spark.pipeline.silver import build_silver

        spark, exp = self.spark, self.expected
        bronze_dir = os.path.join(self.out, "bronze")
        silver_dir = os.path.join(self.out, "silver")
        shutil.rmtree(self.out, ignore_errors=True)

        with tracer.span("pipeline.bronze"):
            build_bronze(self.long_df).write.parquet(bronze_dir)
            n_bronze = spark.read.parquet(bronze_dir).count()
        with tracer.span("pipeline.silver"):
            bronze = spark.read.parquet(bronze_dir)
            build_silver(bronze, self.dim).write.partitionBy("year").parquet(
                silver_dir
            )
            n_silver = spark.read.parquet(silver_dir).count()
        with tracer.span("pipeline.gold"):
            silver = spark.read.parquet(silver_dir)
            yearly = gold.yearly_mean_temperature(silver).collect()
            st_month_t = gold.station_month_mean(
                silver, "avg_temperature_rounded"
            ).collect()
            st_month_p = gold.station_month_mean(silver, "precipitation").collect()
            frames = gold.station_month_year_mean(
                silver, "avg_temperature_rounded"
            ).collect()
            corr = gold.precipitation_temperature_corr(silver).collect()
            trend = gold.yearly_trend(silver).collect()

        got_yearly = {r["year"]: (r["n_days"], r["avg_temperature"]) for r in yearly}
        gold_ok = (
            set(got_yearly) == set(exp["yearly"])
            and all(
                got_yearly[y][0] == n
                and math.isclose(got_yearly[y][1] * n, float(s), rel_tol=1e-9, abs_tol=1e-6)
                for y, (n, s) in exp["yearly"].items()
            )
            and len(st_month_t) == exp["station_months"]
            and len(st_month_p) == exp["station_months"]
            and len(frames) == exp["station_month_years"]
            and math.isclose(corr[0]["corr"], exp["corr"], rel_tol=1e-9, abs_tol=1e-12)
            and math.isclose(trend[0]["slope"], exp["slope"], rel_tol=1e-6, abs_tol=1e-12)
        )
        return [
            ("bronze", n_bronze == exp["bronze_rows"]),
            ("silver", n_silver == exp["silver_rows"]),
            ("gold", gold_ok),
        ]


# --------------------------------------------------------------------------
# query_mix


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result, taken over the frame as the
    repository's oracle check normalises it (columns by name, cells in
    canonical text, rows sorted)."""
    from tools.check_oracle import normalize

    norm = normalize(pdf)
    h = hashlib.sha256("\x1e".join(norm.columns).encode())
    for row in norm.itertuples(index=False, name=None):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return f"{len(norm)}:{h.hexdigest()}"


class QueryMix:
    """Runs a fixed list of registered queries, one after another, in
    an order drawn from the seed. Each query is one checked operation:
    its builder (``Query.fn``) is one span, its final action (collecting
    the result) another."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.data = os.path.join(run_dir, "data")
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)

    def setup(self) -> None:
        from tools.check_oracle import duck_conn
        from weather_analysis_bigdata__spark.registry import all_queries

        # A per-run copy: path-keyed fixtures the program caches across
        # processes are then built afresh in every run.
        shutil.copytree(DATA_DIR, self.data)
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data
        registry = all_queries()
        self.queries = {n: registry[n] for n in self.order}
        con = duck_conn(self.data)
        try:
            con.execute("SET threads TO 2")
            self.oracle = {
                n: frame_digest(con.execute(q.oracle_text()).df())
                for n, q in self.queries.items()
            }
        finally:
            con.close()
        for q in self.queries.values():
            if q.prepare is not None:
                q.prepare(self.spark, self.data)

    def inputs_digest(self) -> str:
        h = hashlib.sha256("|".join(self.order).encode())
        for f in sorted(os.listdir(DATA_DIR)):
            with open(os.path.join(DATA_DIR, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        return h.hexdigest()

    def run_pass(self, tracer: Tracer) -> list[tuple[str, bool]]:
        results = []
        for name in self.order:
            ok = False
            try:
                with tracer.span(f"{name}.builder"):
                    df = self.queries[name].fn(self.spark, self.data)
                with tracer.span(f"{name}.action"):
                    pdf = df.toPandas()
                tracer.record_catalyst(name, df)
                ok = frame_digest(pdf) == self.oracle[name]
                if not ok:
                    print(f"perfbench: {name}: result differs from oracle", file=sys.stderr)
            except Exception:  # one failed query is counted, the pass goes on
                traceback.print_exc()
            results.append((name, ok))
        return results


def make(name: str, spark, run_dir: str, seed: int):
    if name == "medallion_refresh":
        return MedallionRefresh(spark, run_dir, seed)
    if name == "query_mix":
        return QueryMix(spark, run_dir, seed)
    raise ValueError(f"unknown workload {name!r}")
