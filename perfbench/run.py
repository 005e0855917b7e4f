#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {generate,query_mix,dup_flood} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run builds
nothing: it imports the package sources next to ``perfbench/``, starts
Spark ``local[nproc]``, stages its inputs under one temporary directory
inside the checkout (``.perfbench_run/``) and removes it at the end.

Standard output ends with two lines: a JSON report (host and version
provenance, the workload's named metrics with unit, n, median and the
highest percentile that has at least 10 samples beyond it, and any
failures), then the result line
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A traced run
prints its spans as one more JSON line before the report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: hard stop for one run: every run must end well inside 180 s
DEADLINE_S = 170.0
#: driver heap, well below physical memory (the package default is 16g)
DRIVER_MEMORY = "3g"
WORKLOAD_NAMES = ("generate", "query_mix", "dup_flood")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(workdir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at
    ``workdir`` and make the package importable by Spark's Python
    workers."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    # spark-warehouse and any other cwd-relative output land here
    os.chdir(workdir)


def stop_spark() -> None:
    """Stop the Spark context and the gateway JVM, and wait for the JVM.
    Tolerates a JVM that is already gone (a terminated run)."""
    if "pyspark" not in sys.modules:
        return
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except (Py4JError, OSError):
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _watchdog(workdir: str) -> None:
    from harness import log

    log(f"run exceeded {DEADLINE_S:.0f} s; stopping without a result")
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
        os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "eventstream_benchmark_spark"))
            and os.path.isfile(os.path.join(ROOT, "sf_scale_up.py"))):
        print(f"perfbench: the package sources are not in {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(DEADLINE_S, _watchdog, args=(workdir,))
    timer.daemon = True
    timer.start()
    try:
        configure_env(workdir)
        from workloads import run_workload

        result = run_workload(
            args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), root=ROOT, workdir=workdir,
        )
    finally:
        try:
            stop_spark()
        finally:
            timer.cancel()
            os.chdir(ROOT)
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass
    if result["spans"]:
        print(json.dumps({"spans": result["spans"]}))
    print(json.dumps(result["report"]))
    print(json.dumps(result["final"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
