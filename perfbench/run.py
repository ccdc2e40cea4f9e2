#!/usr/bin/env python3
"""Benchmark command for oni_indexer_spark.

    python3 perfbench/run.py --workload query_small --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds and queries the engine in this
checkout at ``local[<cores>]``, checks every answer against the DuckDB
oracle, and prints one JSON object as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see perfbench/README.md). Lines before it describe the host, the
corpus and the samples. All scratch files live in ``.perfbench_work/`` and
are removed at exit. A wrong answer is reported through ``correct`` and
``failed``; the command exits non-zero, printing no result, only when the
engine sources are missing or a step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_small", "ingest")


def host_env(work: str) -> dict:
    """Fit Spark to this host through the variables session.py reads, and
    keep every temporary file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # an eighth of RAM, 1-4 GiB: the corpora here are tens of MB
    driver_gb = max(1, min(4, round(mem_kb / (8 * 1024 * 1024))))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file under /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    # tempfile caches its directory on first use; make it read TMPDIR
    tempfile.tempdir = None
    return {"nproc": cpus, "mem_total_kb": mem_kb, "driver_memory": f"{driver_gb}g"}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's vCPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    host = host_env(work)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import Bench

    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    from oni_indexer_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        host.update(
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            python=platform.python_version(),
        )
        bench = Bench(spark, args.workload, args.seed, args.seconds, work,
                      trace=bool(args.trace), cpus=host["nproc"])
        bench.session_s = session_s
        bench.run()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests meanwhile
        host["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        details = {
            "host": host,
            "workload": args.workload,
            "seed": args.seed,
            "corpus": {"docs": bench.n_docs, "input_bytes": bench.info["input_bytes"],
                       "index_bytes": bench.info["index_bytes"]},
            "filters": bench.info["filters"],
            "samples": {"queries": len(bench.query_lat), "cold_queries": len(bench.cold_lat)},
            "setup_reps_s": bench.setup_rep_s,
            "build_s": bench.build_s,
            "append_docs_per_s": bench.append_rate,
            "delete_s": bench.delete_s,
            "compact_s": bench.compact_s,
            "ops_p50_s": bench.op_p50(),
            "phases_s": bench.info["phases_s"],
            "failures": bench.failures,
        }
    finally:
        stop_spark(spark)
    print(json.dumps(details))
    return {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "oni_indexer_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
