#!/usr/bin/env python
"""Measure the interactive-session hot path.

The reference's interactive loop (application/query_service.py:222-357)
answers list/count/aggregate/viz actions in ~50 ms because DuckDB has
no job-scheduling floor. Spark pays ~0.2 s per JOB — so the engine's
design rule is: metadata actions must run ZERO jobs (driver-side
filesystem + schema), and data actions must run as FEW jobs as
possible, with the cache serving repeats without touching the scan.

This tool drives one end-to-end session against a warehouse built from
$SPARK_GRAFT_SF_DIR events (default sf0.1), in the session the engine
ships (``session.build_session``, ``local[$SPARK_GRAFT_CPUS]``). For
each action it prints the warm latency, the number of Spark jobs it
scheduled (from the AppStatusStore) and the number of generated classes
it compiled (Spark's CodegenMetrics), so "0 jobs" and "no recompile"
are measured, not claimed. Output: one JSON line per action + a summary.

Usage: SPARK_GRAFT_CPUS=4 python tools/interactive_latency.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def n_jobs(spark) -> int:
    """Total jobs scheduled so far (AppStatusStore probe)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def n_compiled(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    from oracle_duckdb_sync_spark.config import EngineConfig
    from oracle_duckdb_sync_spark.plans.services import (
        EnhancedQueryService,
        QueryService,
    )
    from oracle_duckdb_sync_spark.plans.viz import prepare_plot_dataframe
    from oracle_duckdb_sync_spark.session import build_session
    from oracle_duckdb_sync_spark.sources.catalog import Catalog
    from oracle_duckdb_sync_spark.sources.testdata import load_table

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    wh = os.path.join(REPO, ".localdata", "interactive_wh")
    shutil.rmtree(wh, ignore_errors=True)
    cfg = EngineConfig(warehouse_dir=wh)
    cat = Catalog(spark, cfg)
    # events with a proper timestamp column
    load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).write.parquet(os.path.join(wh, "events"))

    svc = QueryService(cat, cfg)
    esvc = EnhancedQueryService(cat, cfg)

    actions = [
        ("list_tables [metadata]", lambda: svc.list_tables()),
        ("table_exists [metadata]", lambda: cat.table_exists("events")),
        ("describe/schema [metadata]", lambda: cat.describe("events")),
        ("row_count [1 count job]", lambda: svc.get_table_row_count("events")),
        ("query_table limit=100", lambda: svc.query_table("events").df.collect()),
        (
            "query_table_aggregated 10m",
            lambda: svc.query_table_aggregated(
                "events", "ts", "10 minutes", ["value"]
            ).df.collect(),
        ),
        (
            "viz_prep (plot columns + y-range)",
            lambda: prepare_plot_dataframe(
                svc.query_table_aggregated("events", "ts", "10 minutes", ["value"]).df
            ),
        ),
        (
            "cached_read (initial)",
            lambda: esvc.query_with_caching("events", "ts"),
        ),
        (
            "cached_read (repeat: unchanged table, no job)",
            lambda: esvc.query_with_caching("events", "ts"),
        ),
    ]

    # warm the session (codegen, executor init) so floors are steady-state
    svc.get_table_row_count("events")
    svc.query_table_aggregated("events", "ts", "10 minutes", ["value"]).df.collect()

    results = []
    for name, fn in actions:
        # warm run first unless the action is stateful (cached_read pair)
        stateful = name.startswith("cached_read")
        if not stateful:
            fn()
        j0, c0 = n_jobs(spark), n_compiled(spark)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        results.append({
            "action": name, "sec": round(dt, 4), "jobs": n_jobs(spark) - j0,
            "compiled": n_compiled(spark) - c0,
        })
        print(json.dumps(results[-1]))

    total = sum(r["sec"] for r in results)
    meta_jobs = sum(r["jobs"] for r in results if "[metadata]" in r["action"])
    print(json.dumps({
        "session_total_sec": round(total, 3),
        "metadata_actions_jobs": meta_jobs,
        "sf_dir": SF_DIR,
    }))
    shutil.rmtree(wh, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
