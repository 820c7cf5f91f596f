"""Index benchmark: ``search`` and ``ingest`` workloads over a seeded
Iceberg corpus, driven through the engine's public API.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around every
engine call and Spark's event log on, and prints the per-layer metrics.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes goes under ``.perfbench_work/`` at the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as a package from the repository root, not its
# modules from the script directory
sys.path[0] = ROOT

from perfbench import workloads  # noqa: E402  (needs ROOT on sys.path)

WORK_DIR = ".perfbench_work"


def _driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, capped at 4 GiB (local mode
    runs every task in this one JVM; the data here is tens of MB)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, min(4096, int(line.split()[1]) // 1024 // 4))
    return 2048


def start_spark(work: str, cores: int, trace: bool):
    """Spark session whose scratch paths all sit inside ``work``; Python
    workers see the repository on their path; event log only when
    tracing."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # JVM temp files inside the run directory, and no /tmp/hsperfdata
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_DRIVER_MEM"] = f"{_driver_mem_mb()}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf["spark.eventLog.dir"] = "file://" + events
        # one plain JSON-lines file (rolling and compression are on by
        # default)
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    from tfidf_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        bench = workloads.Bench(
            spark, work, args.seed, args.seconds, cores, bool(args.trace)
        )
        bench.phases.append(f"session {time.perf_counter() - t0:.2f}s")
        workloads.WORKLOADS[args.workload](bench)
        stop_spark(spark)
        spark = None
        bench.phase("stop")
        if args.trace:
            metrics = bench.per_layer(os.path.join(work, "events"))
        else:
            metrics = bench.e2e
        report = bench.report(args.workload, metrics, units)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    for line in report["summary"]:
        print(line)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
