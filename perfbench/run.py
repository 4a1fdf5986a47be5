"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_ref --seed 1 --seconds 10 --trace 0

Run from the repository root: the engine is imported from the source
tree next to this directory. The workload's inputs are generated from
``--seed``; every output is checked. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (then the spans are also written to
``.perfbench/traces/``). The line before it records the environment
and sample counts.

All files the run writes live under ``.perfbench/`` at the repository
root; the run's own data directory is removed at the end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("olap_ref", "corpus_curation", "ingest_cdc")
# Driver JVM heap: well below the RAM of a small host, enough for every
# workload. Fixed (-Xms = -Xmx): a heap left to grow made set-up times
# swing by a third between runs. The parallel collector, not G1: with
# G1's concurrent threads beside four task threads on four CPUs, the
# same ingest loop settled 1.3 s a batch in one JVM and 0.9 s in another.
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(workload: str, seed: int) -> str:
    """Fix the knobs the engine reads from the environment and move
    every file Spark, DuckDB and Python may write under one run
    directory, which becomes the working directory."""
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.chdir(run_dir)
    return run_dir


def start_session(run_dir: str):
    from sql_engine_triangle_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+UseParallelGC -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # Keep every job's status for the traced run's counts.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def retained_mb(spark) -> tuple[float, float]:
    """Driver JVM memory the program still holds after its measured
    phase, as (heap, non-heap) MB: the heap in use after full
    collections, and the peak non-heap use (metaspace, code cache). The
    process RSS would read the fixed heap size instead."""
    jvm = spark._jvm
    for _ in range(3):  # the later ones also free what the context cleaner let go
        jvm.System.gc()
        time.sleep(0.5)
    mx = jvm.java.lang.management.ManagementFactory
    heap = mx.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    non_heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in mx.getMemoryPoolMXBeans()
        if pool.getType().name() == "NON_HEAP"
    )
    return heap / 2**20, non_heap / 2**20


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    load_before = os.getloadavg()
    run_dir = pin_environment(args.workload, args.seed)
    try:
        from perfbench.checks import Tally
        from perfbench.metrics import END_TO_END, layer_metrics
        from perfbench.trace import Tracer

        module = importlib.import_module(f"perfbench.{args.workload}")
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            tally = Tally()
            out = module.run(spark, tracer, tally, args.seed, args.seconds, run_dir)
            setup_s = session_s + out.setup_s
            if args.trace:
                tracer.resolve_counts()
                metrics = layer_metrics(tracer, session_s, out.layer_extra)
                os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
                tracer.dump(os.path.join(
                    ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
            else:
                memory = retained_mb(spark)
                values = {"setup_s": setup_s, **out.end_to_end, "retained_mb": sum(memory)}
                metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
            info = {
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "samples": out.samples, "setup_s": setup_s,
                "retained_heap_non_heap_mb": None if args.trace else memory,
                "env": {
                    "nproc": len(os.sched_getaffinity(0)),
                    "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
                    "driver_mem": DRIVER_MEM,
                    "spark": spark.version,
                    "java": spark._jvm.System.getProperty("java.version"),
                    "python": sys.version.split()[0],
                    "loadavg_before": load_before,
                    "loadavg_after": os.getloadavg(),
                },
            }
        finally:
            stop_session(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
