#!/usr/bin/env python
"""Spot-time a handful of registry queries with bench.py's exact
methodology (same session confs, same sf0.001 warmup pass, noop-sink
action, min + median of N reps) — the per-change measurement loop of
the optimization rounds, so a candidate edit is judged against the
same numbers the driver's bench produces without paying for the full
110-query suite.

Usage:
    python tools/spot_bench.py <sf_dir> <cpus> <reps> <name> [name...]

Prints one line per query (min / median over reps) plus a JSON tail.
Evidence-only tooling: bench.py itself is untouched.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir, cpus, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    print(f"# loadavg at start: {os.getloadavg()}", file=sys.stderr)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ods-spark-spot-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    def _run(df):
        df.write.format("noop").mode("overwrite").save()

    # bench.py warms the substring store / silver / ivf inputs up front
    try:
        from oracle_duckdb_sync_spark.sources.testdata import (
            ensure_silver_events,
        )

        ensure_silver_events(spark, sf_dir)
    except Exception as e:
        print(f"# silver warmup failed: {e}", file=sys.stderr)
    try:
        from oracle_duckdb_sync_spark.sources.testdata import ensure_ivf_index

        ensure_ivf_index(spark, sf_dir, entry._seed_centroids(sf_dir))
    except Exception as e:
        print(f"# ivf warmup failed: {e}", file=sys.stderr)

    # warm on the smallest scale factor beside the timed one
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    for name in names:
        try:
            spark.sparkContext.setJobDescription(f"warmup:{name}")
            _run(qs[name](spark, warm_dir))
        except Exception as e:
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    out: dict[str, dict[str, float]] = {}
    for name in names:
        rep_times = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name}:rep{i}")
            t0 = time.perf_counter()
            _run(qs[name](spark, sf_dir))
            rep_times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        out[name] = {
            "min": round(min(rep_times), 3),
            "median": round(statistics.median(rep_times), 3),
            "reps": [round(r, 3) for r in rep_times],
        }
        print(
            f"# {name}: min {out[name]['min']:.3f}s "
            f"median {out[name]['median']:.3f}s reps {out[name]['reps']}",
            file=sys.stderr,
        )
    print(f"# loadavg at end: {os.getloadavg()}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
