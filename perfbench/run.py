#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_mixed,registry_mix} \\
        --seed N --seconds S --trace {0,1}

Builds the workload's inputs from ``--seed`` (outside any timed region),
measures the workload, checks its outputs, and prints one JSON object
as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions (see ``spans.py``) and reports the per-layer
metrics instead, and leaves its spans in
``.bench_work/spans-<workload>-seed<seed>.jsonl``. Everything else the
run writes lives under ``.bench_work/`` in the repository root and is
removed at the end. It runs from any directory. Spark and JVM log noise
goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

# the script's own directory is first on sys.path
import layers
import proc
import workloads
from spans import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
END_TO_END = [
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("warm_cpu_s", "s"),
    ("query_cpu_s", "s"),
]


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM and the Python workers
    it started have exited, so nothing outlives the run."""
    from pyspark import SparkContext

    kids = proc.descendants(os.getpid())
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.05)


def canary_s(spark) -> float:
    """bench.py's constant-work JVM probe (xxhash over a range, no data,
    no Python), scaled to 100M rows: a slow reading marks a noisy host,
    not a regression."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 8).select(
        F.bit_xor(F.xxhash64("id")).alias("s")).collect()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the JVM writes log lines straight to fd 1: keep fd 1 on stderr and
    # write the result line to the saved real stdout
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sys.path.insert(0, str(ROOT))
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python workers must import the package from any working directory;
    # scratch files of Spark, the JVM and Python stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    t_run = time.perf_counter()

    def log(what: str) -> None:
        print(f"perfbench +{time.perf_counter() - t_run:.1f}s {what}", file=sys.stderr)

    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        wl.prepare(str(work), args.seed)
        log("inputs ready")
        t0 = time.perf_counter()
        from git_etl_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            tracer.install()
        log("session ready")
        res = wl.run(spark, args.seconds, tracer)
        log("workload done")
        res["canary_s"] = canary_s(spark)
        res["peak_rss_mb"] = proc.peak_rss_mb()
    finally:
        if spark is not None:
            stop_session(spark)
            log("session stopped")
        shutil.rmtree(work, ignore_errors=True)

    tail_s, tail_pct = workloads.tail(res["lat"])
    values = {
        "setup_s": setup_s,
        "cold_cpu_s": res["cold_cpu_s"],
        "warm_cpu_s": res["warm_cpu_s"],
        "query_cpu_s": res["query_cpu_s"],
    }
    print(f"perfbench {args.workload} seed={args.seed}: setup_s={setup_s:.3f} "
          f"cold_s={res['cold_s']:.3f} warm_s={res['warm_s']:.3f} "
          f"query_p50_s={workloads.median(res['query_s']):.3f} "
          f"timed_s={res['timed_s']:.3f} queries={len(res['lat'])} "
          f"tail=p{tail_pct:.0f}:{tail_s:.3f}s "
          f"canary_s={res['canary_s']:.3f} peak_rss_mb={res['peak_rss_mb']:.0f} "
          f"spark={res['spark']}",
          file=sys.stderr)
    for err in res["errors"]:
        print(f"perfbench check failed: {err}", file=sys.stderr)
    if tracer is not None:
        tracer.dump(str(ROOT / ".bench_work" / f"spans-{args.workload}-seed{args.seed}.jsonl"))
        metrics = layers.per_layer(res, tracer, setup_s)
    else:
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in END_TO_END}
    line = json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    })
    with os.fdopen(real_stdout, "w") as out:
        out.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
