#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload capture --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads: capture, lineage, workflow,
curate (see perfbench/README.md). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1`` its
``per_layer`` list. The line before it is the full record (latency per
request class with tail percentiles, per-op CPU and Spark counts, gate
failures, per-layer self times). Traced runs also write their spans to
``.perfbench_traces/``. ``--size smoke`` shrinks every input for the smoke
check (perfbench/smoke.py).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("capture", "lineage", "workflow", "curate")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def driver_memory_mb() -> int:
    """2 GiB, or a quarter of host RAM when that is smaller: the engine's
    own default (16g) can exceed a small host."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(512, min(2048, total_kb // 4096))


def pin_environment(work: str) -> None:
    """Spark runs local[nproc]; every file it or the engine writes lands
    under ``work``, which the run removes at the end."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PIN_THREAD"] = "true"
    os.environ.pop("SPARK_MASTER", None)


class Context:
    def __init__(self, args, spark, work):
        from perfbench.harness import CpuMeter, SparkCounters, Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.size = args.size
        self.work = work
        self.tracer = Tracer(spark.sparkContext, enabled=self.traced)
        self.meter = CpuMeter(spark)
        self.counters = SparkCounters(spark.sparkContext)

    def restart_spark(self) -> None:
        """Stop the SparkSession and start a new one in the running JVM:
        the Spark part of a set-up."""
        from perfbench.harness import SparkCounters

        self.spark.stop()
        self.spark = start_spark(self.work)
        self.tracer.sc = self.spark.sparkContext
        self.counters = SparkCounters(self.spark.sparkContext)


def start_spark(work: str):
    from samba_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    mem = driver_memory_mb()
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # Fixed heap and young-generation sizes: with adaptive sizing the
            # JVM's peak RSS varied by 30% between identical runs, which
            # would make peak_rss_mb useless. C1-only JIT: with C2, op
            # times kept falling for the whole of a ~30 s run, so runs of
            # different lengths disagreed. No hsperfdata file in /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{mem}m -Xmn{mem // 4}m "
                "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_workload(name: str):
    if name == "capture":
        from perfbench.capture import Capture as W
    elif name == "lineage":
        from perfbench.lineage import Lineage as W
    elif name == "workflow":
        from perfbench.workflow import Workflow as W
    else:
        from perfbench.curate import Curate as W
    return W


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[0] = ROOT
    if importlib.util.find_spec("samba_spark") is None:
        sys.exit("perfbench: samba_spark is not in this checkout")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # before samba_spark is imported: it reads these at import time
    pin_environment(work)

    from perfbench.harness import run_workload
    spark = ctx = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        t1 = time.perf_counter()
        ctx = Context(args, spark, work)
        ctx.tracer.add("session.start", t0, t1)
        workload = load_workload(args.workload)(ctx)
        try:
            result = run_workload(workload, ctx)
        finally:
            close = getattr(workload, "close", None)
            if close:
                close()
        result["session_start_s"] = t1 - t0
        if ctx.traced:
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            with open(path, "w") as fh:
                json.dump({"result": result, "spans": ctx.tracer.spans}, fh,
                          default=str)
            result["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        if spark is not None:
            stop_spark(ctx.spark if ctx else spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        source, names = result["layers"], spec["per_layer"]
    else:
        source, names = result, spec["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in names}
    print(json.dumps(result, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
