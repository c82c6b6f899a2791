#!/usr/bin/env python3
"""Benchmark entry point: the dashboard and batch workloads of the Spark
engine, closed loop, one client, one process (see README.md).

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

``--workload all`` runs both workloads one after another in the same
process. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
records a span around every call into a layer and prints the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the workload's named metrics, and the spans go to ``.bench_work/``.

Run from the root of a source checkout: the program (the
``oracle_duckdb_sync_spark`` package) is imported from there, and every
file the run writes stays under ``.bench_work/`` in that checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "oracle_duckdb_sync_spark")
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4
DRIVER_HEAP = "2g"
WORKLOADS = ("dashboard", "batch")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment() -> None:
    """Session settings build_session does not carry go on the
    process's own spark-submit arguments: the UI off and a driver heap
    that fits a 4-core, 15 GB host. The JVM options keep its temp files
    in the checkout and turn off its /tmp performance-counter file."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_HEAP} --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers (the pandas paths) import the package from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "session.py")):
        print(f"perfbench: the program is missing: no package at {PACKAGE}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    sys.path.insert(0, ROOT)

    from perfbench.harness import run_workloads

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    try:
        result = run_workloads(
            names, args.seed, args.seconds, bool(args.trace), WORK, T_PROCESS_START, CORES
        )
    finally:
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
