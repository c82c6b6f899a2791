"""Cache provider + query-service contract tests (reference K1-K3,
§3.2/§3.3 flows)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.config import EngineConfig
from oracle_duckdb_sync_spark.plans.cache import MemoryCacheProvider, QueryCacheManager
from oracle_duckdb_sync_spark.plans.contracts import NO_DATA_ERROR
from oracle_duckdb_sync_spark.plans.services import EnhancedQueryService, QueryService
from oracle_duckdb_sync_spark.sources.catalog import Catalog


@pytest.fixture()
def warehouse(spark, tmp_path):
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"), state_dir=str(tmp_path / "st"))
    catalog = Catalog(spark, cfg)
    rows = [
        Row(ID=i, TRAN_TIME=f"202401{1 + i // 1440:02d}{(i // 60) % 24:02d}{i % 60:02d}00",
            VALUE_1=str(100.0 + i % 7), STATUS="OK")
        for i in range(2000)
    ]
    spark.createDataFrame(rows).write.parquet(catalog.table_path("sensor"))
    return cfg, catalog


# -- cache provider (K1) -----------------------------------------------------

def test_provider_contract():
    p = MemoryCacheProvider()
    p.set("a", 1)
    assert p.has("a") and p.get("a") == 1
    p.delete("a")
    assert not p.has("a")
    p.set("x", 2)
    p.clear()
    assert not p.has("x")


def test_provider_long_key_hashing():
    p = MemoryCacheProvider()
    key = "k" * 500
    p.set(key, "v")
    assert p.has(key) and p.get(key) == "v"


def test_cached_function_decorator():
    p = MemoryCacheProvider()
    calls = []

    @p.cached_function("f")
    def fn(x):
        calls.append(x)
        return x * 2

    assert fn(3) == 6 and fn(3) == 6
    assert calls == [3]


def test_cache_manager_ttl(spark):
    mgr = QueryCacheManager()
    df = spark.range(5)
    from oracle_duckdb_sync_spark.plans.contracts import CachedQueryMetadata

    mgr.set_data("t", df, CachedQueryMetadata(row_count=5))
    assert mgr.has_cache("t")
    assert not mgr.invalidate_if_stale("t", max_age_seconds=9999)
    assert mgr.invalidate_if_stale("t", max_age_seconds=0.0)
    assert not mgr.has_cache("t")
    assert mgr.stats()["hits"] >= 0


# -- QueryService (§3.2) -----------------------------------------------------

def test_aggregated_query_varchar_table(spark, warehouse):
    """The canonical F1 shape: string time column + string numerics —
    the service must vote, convert, and aggregate."""
    cfg, catalog = warehouse
    svc = QueryService(catalog, cfg)
    res = svc.query_table_aggregated("sensor", "TRAN_TIME", "10 minutes")
    assert res.success
    assert "VALUE_1" in res.numeric_cols
    pdf = res.df.toPandas()
    assert "time_bucket" in pdf.columns and "VALUE_1_avg" in pdf.columns
    assert res.row_count == len(pdf) > 0


def test_aggregated_query_no_numeric(spark, warehouse, tmp_path):
    cfg, catalog = warehouse
    spark.createDataFrame([Row(TRAN_TIME="20240101000000", S="x")]).write.parquet(
        catalog.table_path("nonnumeric")
    )
    res = QueryService(catalog, cfg).query_table_aggregated("nonnumeric", "TRAN_TIME")
    assert not res.success and "numeric" in res.error.lower()


def test_query_table_limit_and_empty(spark, warehouse):
    cfg, catalog = warehouse
    svc = QueryService(catalog, cfg)
    res = svc.query_table("sensor", limit=10)
    assert res.success and res.row_count == 10
    spark.createDataFrame([], "a int").write.parquet(catalog.table_path("emptyt"))
    res2 = svc.query_table("emptyt")
    assert not res2.success and res2.error == NO_DATA_ERROR


# -- EnhancedQueryService (§3.3) ---------------------------------------------

def test_cached_incremental_flow(spark, tmp_path):
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh2"))
    catalog = Catalog(spark, cfg)
    base = [Row(ID=i, ts=f"2024-01-01 00:{i % 60:02d}:00", v=str(i)) for i in range(60)]
    df = spark.createDataFrame(base).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(catalog.table_path("inc"))

    svc = EnhancedQueryService(catalog, cfg)
    r1 = svc.query_with_caching("inc", "ts")
    assert r1.success and not r1.is_incremental and r1.row_count == 60
    assert r1.conversions.get("v") == "numeric"  # auto-vote converted v

    # no new rows → cache served
    r2 = svc.query_with_caching("inc", "ts")
    assert r2.success and r2.is_incremental and r2.row_count == 60

    # append a delta generation with later timestamps
    delta = [Row(ID=100 + i, ts=f"2024-01-01 01:{i:02d}:00", v=str(i)) for i in range(5)]
    spark.createDataFrame(delta).withColumn("ts", F.to_timestamp("ts")).write.mode(
        "append"
    ).parquet(catalog.table_path("inc"))
    r3 = svc.query_with_caching("inc", "ts")
    assert r3.success and r3.is_incremental and r3.row_count == 65
    assert dict(r3.df.dtypes)["v"] == "double"  # conversions reapplied to delta
    # the cached entry is a snapshot of the first read: after the repeat
    # read and the append, the merged result holds each row once
    assert r3.df.count() == 65
    assert r3.df.select("ID").distinct().count() == 65


def test_stale_serve_on_error(spark, tmp_path):
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh3"))
    catalog = Catalog(spark, cfg)
    rows = [Row(ID=i, ts=f"2024-01-01 00:{i % 60:02d}:00") for i in range(10)]
    spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts")).write.parquet(
        catalog.table_path("st")
    )
    svc = EnhancedQueryService(catalog, cfg)
    assert svc.query_with_caching("st", "ts").success

    # break the underlying table → incremental read fails → stale cache served
    import shutil

    shutil.rmtree(catalog.table_path("st"))
    res = svc.query_with_caching("st", "ts")
    assert not res.success and res.df is not None and res.error
