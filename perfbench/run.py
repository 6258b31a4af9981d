"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Each run starts
``worker.py`` in a fresh process (fresh JVM) with about half of the
host's cores as Spark task threads, and with every directory the
program writes to pointed inside a per-run directory of the checkout,
which is deleted afterwards.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
to the first timed pass) and ``pass_s`` (median timed pass). ``--trace 1`` runs the workload twice, untraced and
then with Spark's event log on, and prints the per-layer metrics
(``ledger.py``) plus ``tracing.overhead_frac``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; everything else goes
to stderr. See README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "weather_analysis_bigdata__spark"
WORKLOADS = ("medallion_refresh", "query_mix")

#: The whole run, both workers included, must end well inside 180 s.
RUN_TIMEOUT_S = 170


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def task_threads() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def worker_env(run_dir: str, traced: bool) -> dict:
    env = dict(os.environ)
    for sub in ("tmp", "spark-local", "warehouse", "checkpoint", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH")))),
        SPARK_GRAFT_CPUS=str(task_threads()),
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(run_dir, "checkpoint"),
        # No hsperfdata file under /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        # Same string hashes, so the same set orders, in every run.
        PYTHONHASHSEED="0",
    )
    submit = []
    if traced:
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def run_worker(workload: str, seed: int, seconds: float, traced: bool,
               run_dir: str, deadline: float) -> dict:
    """Run one worker process to completion; return its result."""
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(traced)), "--run-dir", run_dir, "--out", out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=worker_env(run_dir, traced),
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc)
    if code != 0:
        raise RuntimeError(f"worker for {workload} ended with {code}")
    with open(out) as f:
        result = json.load(f)
    result["event_dir"] = os.path.join(run_dir, "events")
    return result


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers)
    and wait until they are gone."""
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        for _ in range(50):
            if proc.poll() is not None and not group_alive(pgid):
                return
            time.sleep(0.1)
    proc.wait()


def group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def ops_counts(*results) -> tuple[int, int]:
    ops = [ok for r in results for p in r["warmup"] + r["passes"] for _, ok in p["ops"]]
    return len(ops), sum(1 for ok in ops if not ok)


def end_to_end(result: dict, started: float) -> dict:
    walls = [p["wall_s"] for p in result["passes"]]
    return {
        "setup_s": {"value": result["first_timed_pass_epoch"] - started, "unit": "s"},
        "pass_s": {"value": statistics.median(walls), "unit": "s"},
    }


def describe(result: dict) -> str:
    def row(p):
        return (f"  {p['tag']:>4} wall {p['wall_s']:7.3f}s jit {p['jit_s']:6.2f}s "
                f"gc {p['gc_s']:5.2f}s steal {p['steal_frac']:.3f}")
    lines = [f"perfbench: {result['workload']} seed {result['seed']} "
             f"traced={result['traced']} task threads {result['task_threads']} "
             f"inputs {result['inputs_digest'][:16]}; session start "
             f"{result['session_start_s']:.2f}s, workload set-up {result['workload_setup_s']:.2f}s"]
    lines += [row(p) for p in result["warmup"] + result["passes"]]
    return "\n".join(lines)


def main(argv=None) -> int:
    started = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_TIMEOUT_S
    base_dir = os.path.join(ROOT, ".perfbench_runs")
    run_dirs = []
    try:
        def run(traced: bool, seconds: float) -> dict:
            run_dir = os.path.join(base_dir, f"{args.workload}-{os.getpid()}-{len(run_dirs)}")
            shutil.rmtree(run_dir, ignore_errors=True)
            run_dirs.append(run_dir)
            result = run_worker(args.workload, args.seed, seconds, traced, run_dir, deadline)
            print(describe(result), file=sys.stderr)
            return result

        if not args.trace:
            result = run(False, args.seconds)
            attempted, failed = ops_counts(result)
            metrics = end_to_end(result, started)
        else:
            import ledger

            half = max(1.0, args.seconds / 2)
            untraced = run(False, half)
            traced = run(True, half)
            attempted, failed = ops_counts(untraced, traced)
            metrics = ledger.layer_metrics(traced, untraced)
    except Exception as exc:  # report and fail the run; print no result
        print(f"perfbench: run failed: {exc!r}", file=sys.stderr)
        return 1
    finally:
        for d in run_dirs:
            shutil.rmtree(d, ignore_errors=True)
        if os.path.isdir(base_dir) and not os.listdir(base_dir):
            os.rmdir(base_dir)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
