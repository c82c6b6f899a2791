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
from tests.conftest import count_jobs


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


def _timed_table(spark, catalog, name, rows, mode="overwrite"):
    spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts")).write.mode(
        mode
    ).parquet(catalog.table_path(name))


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


def test_aggregated_query_collects_its_buckets_once(spark, warehouse):
    """The bucket aggregate runs once: the result is collected with its
    row count and handed back as a driver-local relation, so rendering it
    runs no scan (at the parent the count and the caller's toPandas ran
    the whole plan twice)."""
    cfg, catalog = warehouse
    svc = QueryService(catalog, cfg)
    svc.query_table_aggregated("sensor", "TRAN_TIME", "10 minutes")  # warm
    (res, pdf), n = count_jobs(spark, lambda: (
        (r := svc.query_table_aggregated("sensor", "TRAN_TIME", "10 minutes")),
        r.df.toPandas(),
    ))
    assert res.success and res.row_count == len(pdf) == 200
    assert n <= 6
    (res, pdf), n = count_jobs(spark, lambda: (
        (r := svc.query_table("sensor", limit=10)), r.df.toPandas()
    ))
    assert res.row_count == len(pdf) == 10 and n <= 2


def test_collected_result_keeps_instants_and_wall_clocks(spark, tmp_path):
    """The driver-local result carries the plan's schema: a TIMESTAMP
    stays the same instant and a TIMESTAMP_NTZ the same wall clock (the
    session here is America/New_York, which an Arrow round trip without
    the schema would shift)."""
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "whz"))
    catalog = Catalog(spark, cfg)
    spark.sql(
        "SELECT id, timestamp_micros(1699165800000000 + id * 3600000000) AS ts, "
        "to_timestamp_ntz('2024-11-03 01:30:00') + make_interval(0, 0, 0, 0, 0, 0, id) "
        "AS wall FROM range(3)"
    ).write.parquet(catalog.table_path("tz"))
    want = spark.read.parquet(catalog.table_path("tz")).selectExpr(
        "id", "unix_micros(ts) AS us", "CAST(wall AS STRING) AS wall"
    ).orderBy("id").collect()
    res = QueryService(catalog, cfg).query_table("tz", limit=10)
    assert dict(res.df.dtypes) == {"id": "bigint", "ts": "timestamp", "wall": "timestamp_ntz"}
    got = res.df.selectExpr(
        "id", "unix_micros(ts) AS us", "CAST(wall AS STRING) AS wall"
    ).orderBy("id").collect()
    assert got == want


def test_cached_read_jobs_and_time_order(spark, tmp_path):
    """initial → repeat → append → read: a repeat over an unchanged table
    runs no job before the caller's own action, the read after the
    append runs a bounded number, and the rows come back in time order
    with the delta after the cached rows (the merge is not re-sorted)."""
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "whj"))
    catalog = Catalog(spark, cfg)
    # written in reverse, so file order is not time order
    base = [Row(ID=i, ts=f"2024-01-01 00:{59 - i:02d}:00", v=float(i)) for i in range(60)]
    _timed_table(spark, catalog, "jt", base)
    svc = EnhancedQueryService(catalog, cfg)
    r1 = svc.query_with_caching("jt", "ts")
    assert r1.success and not r1.is_incremental
    v1 = catalog.version("jt")
    assert v1 is not None

    r2, n = count_jobs(spark, lambda: svc.query_with_caching("jt", "ts"))
    assert r2.success and r2.is_incremental and r2.row_count == 60 and n == 0

    delta = [Row(ID=100 + i, ts=f"2024-01-01 01:{9 - i:02d}:00", v=0.5) for i in range(10)]
    _timed_table(spark, catalog, "jt", delta, mode="append")
    assert catalog.version("jt") != v1
    (r3, pdf), n = count_jobs(spark, lambda: (
        (r := svc.query_with_caching("jt", "ts")), r.df.toPandas()
    ))
    assert r3.success and r3.is_incremental and r3.row_count == len(pdf) == 70
    assert n <= 6
    assert pdf["ts"].is_monotonic_increasing
    assert set(pdf["ID"][-10:]) == set(range(100, 110))

    # the read after the delta recorded the new version: no probe again
    r4, n = count_jobs(spark, lambda: svc.query_with_caching("jt", "ts"))
    assert r4.row_count == 70 and n == 0


def test_cache_clear_releases_superseded_reads(spark, tmp_path):
    """A read after a delta supersedes the cached rows; ``clear()``
    unpersists both, so two initial → append → read chains leave Spark's
    cache as it was before them."""
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "whc"))
    catalog = Catalog(spark, cfg)
    svc = EnhancedQueryService(catalog, cfg)
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData
    before = cached().size()
    for name in ("c1", "c2"):
        _timed_table(spark, catalog, name, [Row(ID=i, ts=f"2024-01-01 00:{i:02d}:00")
                                            for i in range(20)])
        assert svc.query_with_caching(name, "ts").row_count == 20
        _timed_table(spark, catalog, name, [Row(ID=99, ts="2024-01-01 01:00:00")],
                     mode="append")
        r = svc.query_with_caching(name, "ts")
        assert r.is_incremental and r.df.count() == 21
    assert cached().size() > before
    svc.cache.clear()
    assert cached().size() == before


def test_limited_initial_load_keeps_probing(spark, tmp_path):
    """A ``limit``-ed first read records no table version, so its repeat
    still probes and pulls in the rows past the limit."""
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "whl"))
    catalog = Catalog(spark, cfg)
    _timed_table(spark, catalog, "lim", [
        Row(ID=i, ts=f"2024-01-01 00:{i:02d}:00") for i in range(30)
    ])
    svc = EnhancedQueryService(catalog, cfg)
    assert svc.query_with_caching("lim", "ts", limit=10).row_count == 10
    r = svc.query_with_caching("lim", "ts")
    assert r.success and r.is_incremental and r.row_count == 30
    assert sorted(x.ID for x in r.df.collect()) == list(range(30))


def test_empty_conversion_decision_holds_for_deltas(spark, tmp_path):
    """An initial read that converted nothing stores ``{}``; a delta is
    not voted again on its own sample. Here the delta alone looks
    numeric and, voted alone, was cast to double — the merged cache then
    failed on the first read with CAST_INVALID_INPUT on 'A0'."""
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "whe"))
    catalog = Catalog(spark, cfg)
    _timed_table(spark, catalog, "codes", [
        Row(ID=i, ts=f"2024-01-01 00:{i:02d}:00", code=f"A{i}") for i in range(20)
    ])
    svc = EnhancedQueryService(catalog, cfg)
    r1 = svc.query_with_caching("codes", "ts")
    assert r1.success and r1.conversions == {}
    _timed_table(spark, catalog, "codes", [
        Row(ID=100 + i, ts=f"2024-01-01 01:{i:02d}:00", code=f"{i:03d}") for i in range(5)
    ], mode="append")
    r2 = svc.query_with_caching("codes", "ts")
    assert r2.success and r2.row_count == 25
    assert dict(r2.df.dtypes)["code"] == "string"
    got = sorted((x.ID, x.code) for x in r2.df.collect())
    assert got == sorted(
        [(i, f"A{i}") for i in range(20)] + [(100 + i, f"{i:03d}") for i in range(5)]
    )
