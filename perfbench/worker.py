"""One measured benchmark process.

``run.py`` starts this script once per run, so every run has a fresh
Python interpreter and a fresh JVM. It sets up one workload, warms it
up with a fixed number of whole passes, times a number of passes set
by the requested seconds, and writes what it saw to a JSON file:
per-pass walls, spans, JIT and GC time, host steal, and the high-water
RSS of the driver JVM and Python.

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --run-dir DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Whole passes run before the first timed pass. On a 4-core host the
#: driver JVM's JIT-compile time per pass falls from about 30 s in the
#: first pass to 4-5 s by the fourth, the first timed one (README.md,
#: "Noise diagnosis").
WARMUP_PASSES = 3

#: The timed passes are a fixed number that depends only on --seconds,
#: never on how fast the host is, so ``pass_s`` is the median over the
#: same pass indices in every run: one timed pass per this many
#: seconds, and never fewer than three.
TIMED_PASS_S = 4.0
MIN_TIMED_PASSES = 3

class JvmProbe:
    """Cumulative JIT-compile and GC time of the driver JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.compilation = mf.getCompilationMXBean()
        self.collectors = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(mf.getRuntimeMXBean().getPid())

    def jit_s(self) -> float:
        return self.compilation.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.collectors) / 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def timed_pass(workload, tracer, probe: JvmProbe, tag: str) -> dict:
    tracer.start_pass(tag)
    jit0, gc0, (steal0, total0) = probe.jit_s(), probe.gc_s(), cpu_ticks()
    t0 = time.time()
    ops = workload.run_pass(tracer)
    t1 = time.time()
    steal1, total1 = cpu_ticks()
    return {
        "tag": tag,
        "t0": t0,
        "t1": t1,
        "wall_s": t1 - t0,
        "jit_s": probe.jit_s() - jit0,
        "gc_s": probe.gc_s() - gc0,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "ops": ops,
        "spans": tracer.spans,
        "catalyst": tracer.catalyst,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from weather_analysis_bigdata__spark.operators import index_store
    from weather_analysis_bigdata__spark.session import get_spark

    import workloads

    # Trained indexes and replay segments persist across processes under
    # fixed roots; point them into this run's directory so every run
    # builds them in setup, the same way.
    index_store._ROOT = os.path.join(args.run_dir, "index")
    index_store._REPLAY_ROOT = os.path.join(args.run_dir, "replay")

    t_start = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    try:
        t_session = time.time()
        probe = JvmProbe(spark)
        tracer = workloads.Tracer(spark, traced=bool(args.trace))
        workload = workloads.make(args.workload, spark, args.run_dir, args.seed)
        workload.setup()
        t_setup = time.time()
        warmup = [
            timed_pass(workload, tracer, probe, f"w{i}")
            for i in range(WARMUP_PASSES)
        ]

        pids = (os.getpid(), probe.pid)
        reset_peak_rss(pids)
        n_timed = max(MIN_TIMED_PASSES, math.floor(args.seconds / TIMED_PASS_S))
        first = time.time()
        passes = [
            timed_pass(workload, tracer, probe, f"p{i}") for i in range(n_timed)
        ]
        rss = peak_rss_mb(pids)
        result = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": bool(args.trace),
            "task_threads": int(spark.sparkContext.defaultParallelism),
            "inputs_digest": workload.inputs_digest(),
            "session_start_s": t_session - t_start,
            "workload_setup_s": t_setup - t_session,
            "first_timed_pass_epoch": first,
            "warmup": warmup,
            "passes": passes,
            "peak_rss_mb": rss,
        }
    finally:
        # Stopping flushes the event log of a traced run.
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
