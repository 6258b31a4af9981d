"""Per-layer metrics of a traced run, from Spark's event log.

The traced worker tags every Spark job it starts with the job group
``<pass>|<span>``, where a span is ``pipeline.bronze``/``silver``/
``gold`` or ``<query>.builder``/``<query>.action``. Streaming jobs run
on the query's own thread under its own group, so a job whose group is
not ours is given to the span its submission time falls in. Streaming
progress (``QueryProgressEvent``) is matched to passes by time the same
way. Every metric is a per-pass value, reported as the median over the
timed passes of the traced run.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import statistics
from datetime import datetime

import workloads

MB = 1e6

LAYER_METRICS = (
    [(f"pipeline.bronze.{m}", u) for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))]
    + [(f"pipeline.silver.{m}", u) for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
        ("shuffle_write_mb", "MB"), ("files_written", "count"))]
    + [(f"pipeline.gold.{m}", u) for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("files_read", "count"))]
    + [("queries.builder.wall_s", "s"), ("queries.builder.jobs", "count")]
    + [(f"queries.{q}.{m}", u)
       for q in workloads.QUERY_MIX
       for m, u in (("wall_s", "s"), ("builder_jobs", "count"))]
    + [("catalyst.plan_s", "s")]
    + [(f"action.{m}", u) for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("task_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))]
    + [("functions.python_worker_s", "s"), ("functions.python_bytes_mb", "MB")]
    + [(f"streaming.{m}", u) for m, u in (
        ("batches", "count"), ("trigger_s", "s"), ("add_batch_s", "s"),
        ("overhead_s", "s"))]
    + [("memory.peak_rss_mb", "MB"), ("jvm.gc_s", "s"), ("jvm.jit_compile_s", "s"),
       ("host.steal_frac", "fraction"), ("tracing.overhead_frac", "fraction")]
)

_PROGRESS = "StreamingQueryListener$QueryProgressEvent"


def event_files(event_dir: str) -> list[str]:
    """The event log's files in write order (rolling logs have several)."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda f: int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)))


class EventLog:
    """Jobs, their task totals and SQL metrics, and streaming progress."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.progress: list[dict] = []
        stage_job: dict[int, int] = {}
        metric_name: dict[int, str] = {}
        exec_metrics: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
        for path in event_files(event_dir):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        exec_id = props.get("spark.sql.execution.id")
                        self.jobs[e["Job ID"]] = {
                            "group": props.get("spark.jobGroup.id") or "",
                            "submit": e["Submission Time"] / 1000.0,
                            "exec": int(exec_id) if exec_id else None,
                            "stages": set(),
                            "totals": collections.Counter(),
                        }
                        for s in e["Stage IDs"]:
                            stage_job.setdefault(s, e["Job ID"])
                    elif kind == "SparkListenerTaskEnd":
                        job = self.jobs[stage_job[e["Stage ID"]]]
                        job["stages"].add(e["Stage ID"])
                        job["totals"].update(_task_totals(e))
                    elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                        _plan_metric_names(e["sparkPlanInfo"], metric_name)
                    elif kind.endswith("SparkListenerDriverAccumUpdates"):
                        for acc_id, value in e["accumUpdates"]:
                            if acc_id in metric_name:
                                exec_metrics[e["executionId"]][metric_name[acc_id]] += value
                    elif kind.endswith(_PROGRESS):
                        self.progress.append(e["progress"])
        for job in self.jobs.values():
            job["sql"] = exec_metrics.get(job["exec"], collections.Counter())


def _task_totals(e: dict) -> collections.Counter:
    m = e.get("Task Metrics") or {}
    out = collections.Counter(
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        shuffle_write_mb=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB,
        spill_mb=m.get("Disk Bytes Spilled", 0) / MB,
    )
    for acc in e["Task Info"].get("Accumulables", []):
        # A timing SQL metric (PythonSQLMetrics), so in milliseconds.
        if acc.get("Name") == "time to run Python workers":
            out["python_worker_s"] += int(acc["Update"]) / 1000.0
        elif acc.get("Name") == "data sent to Python workers":
            out["python_bytes_mb"] += int(acc["Update"]) / MB
    return out


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def attribute(log: EventLog, passes: list[dict]) -> dict[int, tuple[str, str]]:
    """Map each job to ``(pass tag, span name)``.

    A job tagged with one of our groups belongs to that span; any other
    job belongs to the span of a timed or warm-up pass that was open
    when it was submitted. Jobs outside every span (set-up) are left
    out.
    """
    spans = [(p["tag"], s) for p in passes for s in p["spans"]]
    out = {}
    for job_id, job in log.jobs.items():
        tag, sep, name = job["group"].partition("|")
        if sep:
            out[job_id] = (tag, name)
            continue
        for tag, s in spans:
            if s["t0"] <= job["submit"] <= s["t1"]:
                out[job_id] = (tag, s["name"])
                break
    return out


def pass_metrics(log: EventLog, owner: dict, p: dict) -> dict[str, float]:
    """Every layer metric for one pass."""
    spans = {s["name"]: s["t1"] - s["t0"] for s in p["spans"]}
    jobs_by_span = collections.defaultdict(list)
    for job_id, (tag, name) in owner.items():
        if tag == p["tag"]:
            jobs_by_span[name].append(log.jobs[job_id])

    def total(names, key):
        return sum(j["totals"][key] for n in names for j in jobs_by_span[n])

    def n_jobs(names):
        return sum(len(jobs_by_span[n]) for n in names)

    m = {name: 0.0 for name, _ in LAYER_METRICS}
    for layer in ("bronze", "silver", "gold"):
        span = f"pipeline.{layer}"
        if span not in spans:
            continue
        m[f"{span}.wall_s"] = spans[span]
        m[f"{span}.jobs"] = n_jobs([span])
        if layer != "gold":
            m[f"{span}.task_cpu_s"] = total([span], "cpu_s")
            m[f"{span}.shuffle_write_mb"] = total([span], "shuffle_write_mb")
    m["pipeline.bronze.spill_mb"] = total(["pipeline.bronze"], "spill_mb")
    m["pipeline.silver.files_written"] = _per_execution(jobs_by_span["pipeline.silver"], "number of written files")
    m["pipeline.gold.files_read"] = _per_execution(jobs_by_span["pipeline.gold"], "number of files read")

    queries = [n[: -len(".builder")] for n in spans if n.endswith(".builder")]
    builders = [f"{q}.builder" for q in queries]
    actions = [f"{q}.action" for q in queries]
    m["queries.builder.wall_s"] = sum(spans[b] for b in builders)
    m["queries.builder.jobs"] = n_jobs(builders)
    for q in queries:
        m[f"queries.{q}.wall_s"] = spans[f"{q}.builder"] + spans.get(f"{q}.action", 0.0)
        m[f"queries.{q}.builder_jobs"] = n_jobs([f"{q}.builder"])
    m["catalyst.plan_s"] = sum(p["catalyst"].values())
    m["action.wall_s"] = sum(spans.get(a, 0.0) for a in actions)
    m["action.jobs"] = n_jobs(actions)
    m["action.stages"] = sum(len(j["stages"]) for a in actions for j in jobs_by_span[a])
    m["action.task_cpu_s"] = total(actions, "cpu_s")
    m["action.shuffle_write_mb"] = total(actions, "shuffle_write_mb")
    m["action.spill_mb"] = total(actions, "spill_mb")
    m["functions.python_worker_s"] = total(list(spans), "python_worker_s")
    m["functions.python_bytes_mb"] = total(list(spans), "python_bytes_mb")

    progress = [pr for pr in log.progress if p["t0"] <= _progress_epoch(pr) <= p["t1"]]
    trigger = sum(pr["durationMs"].get("triggerExecution", 0) for pr in progress) / 1000.0
    add_batch = sum(pr["durationMs"].get("addBatch", 0) for pr in progress) / 1000.0
    m["streaming.batches"] = len(progress)
    m["streaming.trigger_s"] = trigger
    m["streaming.add_batch_s"] = add_batch
    m["streaming.overhead_s"] = trigger - add_batch

    m["jvm.gc_s"] = p["gc_s"]
    m["jvm.jit_compile_s"] = p["jit_s"]
    m["host.steal_frac"] = p["steal_frac"]
    return m


def _per_execution(jobs: list[dict], key: str) -> float:
    """Sum a driver-side SQL metric once per SQL execution."""
    seen = {j["exec"]: j["sql"][key] for j in jobs if j["exec"] is not None}
    return float(sum(seen.values()))


def _progress_epoch(progress: dict) -> float:
    """End of a micro-batch: its trigger start plus trigger duration."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + progress["durationMs"].get("triggerExecution", 0) / 1000.0


def layer_metrics(traced: dict, untraced: dict) -> dict:
    """The per-layer metrics printed by a ``--trace 1`` run."""
    log = EventLog(traced["event_dir"])
    owner = attribute(log, traced["warmup"] + traced["passes"])
    per_pass = [pass_metrics(log, owner, p) for p in traced["passes"]]
    units = dict(LAYER_METRICS)
    out = {
        name: {"value": float(statistics.median(pm[name] for pm in per_pass)), "unit": units[name]}
        for name, _ in LAYER_METRICS
    }
    traced_pass = statistics.median(p["wall_s"] for p in traced["passes"])
    untraced_pass = statistics.median(p["wall_s"] for p in untraced["passes"])
    out["tracing.overhead_frac"]["value"] = traced_pass / untraced_pass - 1.0
    out["memory.peak_rss_mb"]["value"] = traced["peak_rss_mb"]
    return out
