"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The traced tests start one Spark worker each (about a minute).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pytest

import ledger
import noaa
import run
import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_medallion_input(tmp_path):
    digests = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        path = str(tmp_path / f"{name}.parquet")
        noaa.write_raw(path, seed, n_stations=3, years=2)
        digests[name] = noaa.digest(path)
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_same_seed_same_query_order(tmp_path):
    def digest(seed):
        return workloads.make("query_mix", None, str(tmp_path), seed).inputs_digest()

    assert digest(1) == digest(1)
    # The tables are fixed; the seed only orders the queries, so distinct
    # seeds can share an order. Across seeds every order must turn up.
    orders = math.factorial(len(workloads.QUERY_MIX))
    assert len({digest(seed) for seed in range(20 * orders)}) == orders


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(ledger.LAYER_METRICS)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_a_failed_warmup_operation_is_counted():
    def pass_(*oks):
        return {"ops": [(f"op{i}", ok) for i, ok in enumerate(oks)]}

    result = {"warmup": [pass_(True, False)], "passes": [pass_(True, True)] * 3}
    assert run.ops_counts(result) == (8, 1)


def traced_run(workload: str, run_dir: str) -> dict:
    return run.run_worker(workload, 7, 1, True, run_dir, time.time() + 170)


@pytest.fixture(scope="module")
def medallion(tmp_path_factory):
    return traced_run("medallion_refresh", str(tmp_path_factory.mktemp("medallion")))


@pytest.fixture(scope="module")
def query_mix(tmp_path_factory):
    return traced_run("query_mix", str(tmp_path_factory.mktemp("query_mix")))


def test_medallion_layer_walls_sum_to_pass_wall(medallion):
    for p in medallion["passes"]:
        assert all(ok for _, ok in p["ops"])
        layers = [s for s in p["spans"] if s["name"].startswith("pipeline.")]
        assert [s["name"] for s in layers] == ["pipeline.bronze", "pipeline.silver", "pipeline.gold"]
        covered = sum(s["t1"] - s["t0"] for s in layers)
        assert covered == pytest.approx(p["wall_s"], rel=0.05)


def test_medallion_ledger_sees_every_layer(medallion):
    m = ledger.layer_metrics(medallion, medallion)
    for layer in ("bronze", "silver", "gold"):
        assert m[f"pipeline.{layer}.jobs"]["value"] >= 1
    assert m["pipeline.silver.files_written"]["value"] >= 1
    assert m["pipeline.gold.files_read"]["value"] >= 1
    assert m["queries.builder.jobs"]["value"] == 0


def test_query_mix_ledger_sees_every_layer(query_mix):
    m = {k: v["value"] for k, v in ledger.layer_metrics(query_mix, query_mix).items()}
    assert m["streaming.batches"] >= 1
    assert m["streaming.trigger_s"] >= m["streaming.add_batch_s"] > 0
    assert m["catalyst.plan_s"] > 0
    assert m["queries.builder.jobs"] >= 1 and m["action.jobs"] >= 1
    assert m["functions.python_bytes_mb"] > 0
    # Python worker time is summed over tasks, so it is at most the task
    # threads times the pass wall; a wrong unit would overshoot by 1e3.
    pass_s = statistics.median(p["wall_s"] for p in query_mix["passes"])
    assert 0 < m["functions.python_worker_s"] <= query_mix["task_threads"] * pass_s
    assert m["pipeline.bronze.jobs"] == 0


def test_every_query_mix_job_has_one_query_and_phase(query_mix):
    log = ledger.EventLog(query_mix["event_dir"])
    owner = ledger.attribute(log, query_mix["warmup"] + query_mix["passes"])
    for p in query_mix["passes"]:
        assert all(ok for _, ok in p["ops"])
        in_pass = [j for j, job in log.jobs.items() if p["t0"] <= job["submit"] <= p["t1"]]
        assert in_pass
        for job_id in in_pass:
            tag, name = owner[job_id]
            assert tag == p["tag"]
            query, phase = name.rsplit(".", 1)
            assert query in workloads.QUERY_MIX and phase in ("builder", "action")
            group = log.jobs[job_id]["group"]
            if "|" in group:
                assert group == f"{tag}|{name}"
            else:
                # Streaming jobs run under the stream's own group,
                # inside the replay's builder span.
                assert query.startswith("streaming_") and phase == "builder"
