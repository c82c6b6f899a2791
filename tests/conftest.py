"""Shared fixtures: one SparkSession per test session + DuckDB oracle.

The Spark session deliberately runs in a NON-UTC timezone
(America/New_York): the driver's correctness harness may run our queries
under any session timezone, so every oracle-paired query must be
timezone-proof. Running the whole suite under an adversarial tz keeps us
honest.
"""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran on this thread (its
    own job group, so other threads' jobs are not counted)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("ods-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the test tables registered as views,
    mirroring the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
