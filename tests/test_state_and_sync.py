"""State store, lock, and sync-engine pipeline tests (reference H2-H5,
H11-H13 semantics on the Parquet warehouse)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.config import EngineConfig
from oracle_duckdb_sync_spark.errors import LockHeldError
from oracle_duckdb_sync_spark.sources.catalog import Catalog
from oracle_duckdb_sync_spark.sources.state import SyncLock, SyncStateStore
from oracle_duckdb_sync_spark.sync.engine import ParquetSyncSource, SyncEngine


@pytest.fixture()
def env(spark, tmp_path):
    cfg = EngineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        state_dir=str(tmp_path / "state"),
        sync_retry_delay_seconds=0.01,
    )
    catalog = Catalog(spark, cfg)
    state = SyncStateStore(cfg.state_dir)
    engine = SyncEngine(spark, catalog, state, cfg)
    return cfg, catalog, state, engine


def _write_source(spark, path, n0, n1, base_ts="2024-01-01 00:00:00"):
    rows = [
        Row(ID=i, DATA=f"Record{i}", TIMESTAMP_COL=f"2024-01-01 {i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}")
        for i in range(n0, n1)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "TIMESTAMP_COL", F.to_timestamp("TIMESTAMP_COL")
    )
    df.write.mode("overwrite").parquet(path)


# -- JSON state (A17/H2/H12/H13) -------------------------------------------

def test_state_corruption_returns_default(tmp_path):
    st = SyncStateStore(str(tmp_path))
    with open(os.path.join(str(tmp_path), "sync_state.json"), "w") as f:
        f.write("{not json")
    assert st.load_state("t") is None
    assert st.load_json("sync_state.json", {"d": 1}) == {"d": 1}


def test_state_write_fsyncs_before_replace(tmp_path, monkeypatch):
    """The temp file's bytes reach the disk before the rename commits
    it, so a crash cannot leave a truncated state file behind."""
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        calls.append(("fsync", os.fstat(fd).st_size))
        real_fsync(fd)

    def replace(src, dst):
        calls.append(("replace", os.path.basename(dst)))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    store = SyncStateStore(str(tmp_path / "s"))
    store.save_state("t", 123)
    assert [c[0] for c in calls] == ["fsync", "replace"]
    assert calls[0][1] > 0 and calls[1][1] == SyncStateStore.STATE_FILE
    assert store.load_state("t") == 123


def test_state_checkpoint_rollback(tmp_path):
    st = SyncStateStore(str(tmp_path))
    st.save_state("t1", "2024-01-01T00:00:00")
    cp = st.create_state_checkpoint()
    st.save_state("t1", "2024-02-01T00:00:00")
    st.rollback_state(cp)
    assert st.load_state("t1") == "2024-01-01T00:00:00"


def test_schema_mapping_versions(tmp_path):
    st = SyncStateStore(str(tmp_path))
    v1 = st.save_schema_mapping("t", [{"name": "a", "type": "double"}])
    v2 = st.save_schema_mapping("t", [{"name": "a", "type": "string"}])
    assert (v1, v2) == (1, 2)
    assert st.load_schema_mapping("t")[0]["type"] == "string"
    assert st.load_schema_mapping("t", 1)[0]["type"] == "double"


# -- lock (H11) --------------------------------------------------------------

def test_lock_mutual_exclusion(tmp_path):
    l1 = SyncLock(str(tmp_path))
    l2 = SyncLock(str(tmp_path))
    assert l1.acquire()
    assert not l2.acquire()
    l1.release()
    assert l2.acquire()
    l2.release()


def test_lock_stale_takeover(tmp_path):
    l1 = SyncLock(str(tmp_path), stale_seconds=0.05)
    assert l1.acquire()
    time.sleep(0.1)
    l2 = SyncLock(str(tmp_path), stale_seconds=0.05)
    assert l2.acquire()  # stale lock broken
    l2.release()


def test_lock_takeover_race_hands_back_fresh_lock(tmp_path, monkeypatch):
    """rename() is by path: if another contender completes its takeover and
    re-creates a FRESH lock between our _read() and rename(), we must
    detect the mismatch, restore the fresh lock, and lose the race."""
    import json as _json

    winner = SyncLock(str(tmp_path), stale_seconds=0.05)
    assert winner.acquire()  # the fresh lock a rival created moments ago
    with open(winner.path, encoding="utf-8") as f:
        fresh_payload = _json.load(f)

    loser = SyncLock(str(tmp_path), stale_seconds=0.05)
    # simulate the loser having observed the pre-takeover STALE payload
    stale_info = {"pid": 1, "hostname": "h", "timestamp": 0.0}
    monkeypatch.setattr(loser, "_read", lambda: stale_info)
    assert not loser.acquire()  # steal detected → handed back, race lost
    # the fresh lock survives intact and still excludes new contenders
    with open(winner.path, encoding="utf-8") as f:
        assert _json.load(f) == fresh_payload
    assert not SyncLock(str(tmp_path), stale_seconds=60).acquire()
    winner.release()


def test_lock_context_manager(tmp_path):
    with SyncLock(str(tmp_path)):
        with pytest.raises(LockHeldError):
            with SyncLock(str(tmp_path)):
                pass


# -- sync pipelines ----------------------------------------------------------

def test_full_then_incremental_sync(spark, env, tmp_path):
    cfg, catalog, state, engine = env
    src_path = str(tmp_path / "src")
    _write_source(spark, src_path, 0, 1000)
    src = ParquetSyncSource(src_path)

    r = engine.full_sync(src, "sync_target", primary_key="ID", time_column="TIMESTAMP_COL")
    assert r.success and r.rows == 1000
    assert catalog.row_count("sync_target") == 1000
    assert state.load_state("sync_target") is not None

    # new generation: rows 0..1500 (500 new, strictly later timestamps)
    _write_source(spark, src_path, 0, 1500)
    r2 = engine.incremental_sync(src, "sync_target", "TIMESTAMP_COL")
    assert r2.success and r2.rows == 500
    assert catalog.row_count("sync_target") == 1500
    # watermark advanced; rerun sees zero new rows
    r3 = engine.incremental_sync(src, "sync_target", "TIMESTAMP_COL")
    assert r3.success and r3.rows == 0
    assert catalog.row_count("sync_target") == 1500


def test_ntz_watermark_full_then_incremental_sync(spark, env, tmp_path):
    """A parquet source with tz-less timestamps reads as TIMESTAMP_NTZ.
    Its watermark is the wall clock read as UTC (DuckDB's ``epoch_us``
    of the naive max), and the incremental bound compares without the
    session time zone (America/New_York here), also across the
    fall-back hour whose wall clocks repeat."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg, catalog, state, engine = env
    src_dir = tmp_path / "ntz_src"
    src_dir.mkdir()
    base = dt.datetime(2024, 11, 3, 0, 30)  # New York falls back at 02:00

    def write(name, lo, hi):
        ts = [base + dt.timedelta(minutes=7 * i, microseconds=i) for i in range(lo, hi)]
        pq.write_table(
            pa.table({"ID": list(range(lo, hi)), "ts": pa.array(ts, pa.timestamp("us"))}),
            str(src_dir / name),
        )

    write("part-0.parquet", 0, 20)
    src = ParquetSyncSource(str(src_dir))
    # testdata.load_table turns NTZ inference off on the shared session;
    # Spark's default, and build_session's, is on
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        assert dict(src.read_full(spark).dtypes)["ts"] == "timestamp_ntz"
        r = engine.full_sync(src, "ntz_target", time_column="ts")
        assert r.success and r.rows == 20 and r.attempts == 1
        want = duckdb.sql(
            f"SELECT epoch_us(max(ts)) FROM read_parquet('{src_dir}/*.parquet')"
        ).fetchone()[0]
        assert r.new_watermark == want == state.load_state("ntz_target")

        write("part-1.parquet", 20, 26)
        r2 = engine.incremental_sync(src, "ntz_target", "ts")
        assert r2.success and r2.rows == 6
        got = sorted(x.ID for x in catalog.table("ntz_target").select("ID").collect())
        assert got == list(range(26))
    finally:
        spark.conf.set(conf, prev)


def test_sync_counts_on_the_write_pass_and_skips_empty_deltas(spark, env, tmp_path):
    """Count and watermark come from the write's own pass: a full sync
    is the source's schema read and the overwrite (2 jobs; an aggregate
    over a persisted snapshot makes it 5); an incremental adds one
    emptiness probe (3). An empty delta writes no file and keeps the
    saved watermark (2 jobs)."""
    from tests.conftest import count_jobs

    cfg, catalog, state, engine = env
    src_path = str(tmp_path / "src_jobs")
    src = ParquetSyncSource(src_path)

    def top():
        return (
            spark.read.parquet(src_path)
            .agg(F.unix_micros(F.max("TIMESTAMP_COL")))
            .first()[0]
        )

    _write_source(spark, src_path, 0, 1000)
    r, n = count_jobs(spark, lambda: engine.full_sync(src, "jc", time_column="TIMESTAMP_COL"))
    assert r.success and r.rows == 1000 and n <= 2
    assert r.new_watermark == state.load_state("jc") == top()

    _write_source(spark, src_path, 0, 1500)
    r, n = count_jobs(spark, lambda: engine.incremental_sync(src, "jc", "TIMESTAMP_COL"))
    assert r.success and r.rows == 500 and n <= 3
    assert r.new_watermark == state.load_state("jc") == top()
    assert catalog.row_count("jc") == 1500

    files = _file_stats(catalog.table_path("jc"))
    r, n = count_jobs(spark, lambda: engine.incremental_sync(src, "jc", "TIMESTAMP_COL"))
    assert r.success and r.rows == 0 and r.new_watermark is None and n <= 2
    assert _file_stats(catalog.table_path("jc")) == files
    assert state.load_state("jc") == top()


def test_test_sync_row_limit(spark, env, tmp_path):
    cfg, catalog, state, engine = env
    src_path = str(tmp_path / "src2")
    _write_source(spark, src_path, 0, 500)
    r = engine.test_sync(ParquetSyncSource(src_path), "test_target", row_limit=100)
    # the reported count is the write's own: the rows read back from the target
    assert r.success and r.rows == catalog.row_count("test_target") == 100


def test_upsert_sink_replaces_keys(spark, env, tmp_path):
    cfg, catalog, state, engine = env
    src_path = str(tmp_path / "src3")
    _write_source(spark, src_path, 0, 100)
    src = ParquetSyncSource(src_path)
    engine.full_sync(src, "ups", primary_key="ID")

    # overlapping regeneration: same IDs 50..100, changed DATA
    rows = [Row(ID=i, DATA=f"Changed{i}") for i in range(50, 100)]
    new = spark.createDataFrame(rows).withColumn(
        "TIMESTAMP_COL", F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    )
    from oracle_duckdb_sync_spark.sources import sinks

    sinks.upsert(spark, new, catalog.table_path("ups"), ["ID"])
    assert catalog.row_count("ups") == 100
    changed = catalog.table("ups").filter(F.col("DATA").startswith("Changed")).count()
    assert changed == 50


def _file_stats(root):
    """{relpath: (size, mtime_ns)} for every data file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out[os.path.relpath(full, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_upsert_partition_scoped_touches_only_affected_dirs(spark, tmp_path):
    """Partition-scoped upsert (VERDICT r3 #1): an upsert into one
    partition must leave every other partition's files byte-identical
    (same path, size, mtime) — i.e. never opened for rewrite."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "ptab")
    base = spark.createDataFrame(
        [Row(ID=i, DAY=f"2024-01-{1 + i % 3:02d}", DATA=f"Rec{i}") for i in range(90)]
    )
    sinks.upsert(spark, base, path, ["ID"], partition_cols=["DAY"])
    before = _file_stats(path)
    assert any("DAY=2024-01-01" in p for p in before)

    # batch touches only DAY=2024-01-02: 10 updates + 5 inserts
    batch = spark.createDataFrame(
        [Row(ID=i, DAY="2024-01-02", DATA=f"Changed{i}") for i in range(1, 30, 3)]
        + [Row(ID=100 + i, DAY="2024-01-02", DATA=f"New{i}") for i in range(5)]
    )
    sinks.upsert(spark, batch, path, ["ID"], partition_cols=["DAY"])

    after = _file_stats(path)
    untouched_before = {p: s for p, s in before.items() if "DAY=2024-01-02" not in p}
    untouched_after = {p: s for p, s in after.items() if "DAY=2024-01-02" not in p}
    assert untouched_after == untouched_before  # bytes + mtimes identical
    assert {p for p in after if "DAY=2024-01-02" in p} != {
        p for p in before if "DAY=2024-01-02" in p
    }

    got = spark.read.parquet(path)
    assert got.count() == 95
    assert got.filter(F.col("DATA").startswith("Changed")).count() == 10
    assert got.filter(F.col("DATA").startswith("New")).count() == 5
    # updated rows replaced, not duplicated
    assert got.filter(F.col("ID") == 1).count() == 1
    assert got.filter(F.col("ID") == 1).first()["DATA"] == "Changed1"


def test_upsert_partition_scoped_new_partition_and_fallback(spark, tmp_path):
    """A batch introducing a brand-new partition creates its directory;
    the unpartitioned path still does the full-rewrite merge."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "ptab2")
    base = spark.createDataFrame(
        [Row(ID=i, DAY="2024-01-01", DATA=f"Rec{i}") for i in range(10)]
    )
    sinks.upsert(spark, base, path, ["ID"], partition_cols=["DAY"])
    before = _file_stats(path)
    batch = spark.createDataFrame(
        [Row(ID=100 + i, DAY="2024-02-01", DATA=f"Feb{i}") for i in range(4)]
    )
    sinks.upsert(spark, batch, path, ["ID"], partition_cols=["DAY"])
    after = _file_stats(path)
    assert {p: s for p, s in after.items() if "DAY=2024-01-01" in p} == {
        p: s for p, s in before.items() if "DAY=2024-01-01" in p
    }
    assert spark.read.parquet(path).count() == 14

    # unpartitioned fallback unchanged
    flat = str(tmp_path / "flat")
    sinks.upsert(spark, base.drop("DAY"), flat, ["ID"])
    sinks.upsert(
        spark,
        spark.createDataFrame([Row(ID=3, DATA="X"), Row(ID=99, DATA="Y")]),
        flat,
        ["ID"],
    )
    got = spark.read.parquet(flat)
    assert got.count() == 11
    assert got.filter(F.col("ID") == 3).first()["DATA"] == "X"


def test_sync_failure_keeps_state(spark, env, tmp_path):
    cfg, catalog, state, engine = env

    class FailingSource:
        def read_full(self, spark):
            raise RuntimeError("boom")

        def read_incremental(self, spark, tc, last):
            raise RuntimeError("boom")

    state.save_state("ft", "2024-01-01T00:00:00")
    r = engine.incremental_sync(FailingSource(), "ft", "TIMESTAMP_COL")
    assert not r.success
    assert state.load_state("ft") == "2024-01-01T00:00:00"  # unchanged


def test_upsert_noncanonical_partition_values_round_trip(spark, tmp_path):
    """ADVICE r4: partition directory names must round-trip byte-identically.
    A table written with string DAY='01' (dir DAY=01) upserted again must
    merge into DAY=01 — not get re-inferred as int 1 and rewritten into a
    new DAY=1 dir leaving the stale DAY=01 duplicating every key."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "nc")
    base = spark.createDataFrame(
        [Row(ID=i, DAY=f"{1 + i % 2:02d}", DATA=f"Rec{i}") for i in range(20)]
    )
    sinks.upsert(spark, base, path, ["ID"], partition_cols=["DAY"])
    assert sorted(d for d in os.listdir(path) if "=" in d) == ["DAY=01", "DAY=02"]

    batch = spark.createDataFrame([Row(ID=0, DAY="01", DATA="Changed0")])
    sinks.upsert(spark, batch, path, ["ID"], partition_cols=["DAY"])

    dirs = sorted(d for d in os.listdir(path) if "=" in d)
    assert dirs == ["DAY=01", "DAY=02"], f"stale/duplicate partition dirs: {dirs}"
    got = spark.read.parquet(path)
    assert got.count() == 20
    assert got.filter(F.col("ID") == 0).count() == 1
    assert got.filter(F.col("ID") == 0).first()["DATA"] == "Changed0"


def test_upsert_swap_failure_restores_table(spark, tmp_path, monkeypatch):
    """ADVICE r4: a mid-swap failure must roll completed swaps back from
    the (outside-the-root) backup dir and keep tmp on disk — never leave
    the table missing a partition, never stage `=`-named backups inside
    the table root where partition discovery would pick them up."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "ft")
    base = spark.createDataFrame(
        [Row(ID=i, DAY=f"2024-01-{1 + i % 3:02d}", DATA=f"Rec{i}") for i in range(30)]
    )
    sinks.upsert(spark, base, path, ["ID"], partition_cols=["DAY"])
    before = _file_stats(path)
    before_df = spark.read.parquet(path).orderBy("ID").collect()

    batch = spark.createDataFrame(
        [Row(ID=i, DAY=f"2024-01-{1 + i % 3:02d}", DATA=f"Changed{i}") for i in range(6)]
    )

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        # fail on the swap of the *second* merged partition into place,
        # after the first partition has been fully swapped
        if f"{os.sep}DAY=" in dst and ".__bak-" not in dst:
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected swap failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected swap failure"):
        sinks.upsert(spark, batch, path, ["ID"], partition_cols=["DAY"])
    monkeypatch.setattr(os, "rename", real_rename)

    # table fully restored: same dirs, same bytes, same rows
    assert sorted(d for d in os.listdir(path) if "=" in d) == [
        "DAY=2024-01-01",
        "DAY=2024-01-02",
        "DAY=2024-01-03",
    ]
    assert _file_stats(path) == before
    assert spark.read.parquet(path).orderBy("ID").collect() == before_df
    # no backup ever staged inside the table root
    assert not [d for d in os.listdir(path) if "__old" in d or "__bak" in d]
    # the merged tmp is preserved for recovery
    tmps = [d for d in os.listdir(tmp_path) if d.startswith("ft.__tmp-")]
    assert len(tmps) == 1


def test_upsert_delta_import_guard(spark, tmp_path):
    """table_format='delta' without delta-spark installed raises a clear
    ImportError; 'auto' quietly keeps the parquet path."""
    from oracle_duckdb_sync_spark.sources import sinks

    assert not sinks.delta_available()
    df = spark.createDataFrame([Row(ID=1, DATA="a")])
    with pytest.raises(ImportError, match="delta-spark"):
        sinks.upsert(spark, df, str(tmp_path / "d"), ["ID"], table_format="delta")
    with pytest.raises(ValueError, match="table_format"):
        sinks.upsert(spark, df, str(tmp_path / "d"), ["ID"], table_format="hudi")
    # auto without the package: plain parquet, unchanged
    sinks.upsert(spark, df, str(tmp_path / "p"), ["ID"])
    assert spark.read.parquet(str(tmp_path / "p")).count() == 1


def test_upsert_delta_merge_plumbing(spark, tmp_path, monkeypatch):
    """With delta-spark importable (stubbed here), table_format='delta'
    — and 'auto' on an existing Delta table — route through MERGE INTO:
    null-safe key equality, update-all + insert-all, one execute(); the
    parquet swap machinery is never touched."""
    import sys
    import types

    from oracle_duckdb_sync_spark.sources import sinks

    calls = {}

    class FakeMerge:
        def __init__(self, cond):
            calls["cond"] = cond

        def whenMatchedUpdateAll(self):
            calls["update_all"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["insert_all"] = True
            return self

        def execute(self):
            calls["executed"] = calls.get("executed", 0) + 1

    class FakeTable:
        def alias(self, a):
            calls["target_alias"] = a
            return self

        def merge(self, src, cond):
            calls["source_alias"] = "s"  # new.alias('s') was applied
            return FakeMerge(cond)

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark_, path_):
            return True

        @staticmethod
        def forPath(spark_, path_):
            calls["path"] = path_
            return FakeTable()

    delta_mod = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)

    assert sinks.delta_available()
    df = spark.createDataFrame([Row(ID=1, DAY="01", DATA="a")])
    target = str(tmp_path / "dt")
    sinks.upsert(spark, df, target, ["ID", "DAY"], table_format="delta")
    assert calls["path"] == target
    assert calls["cond"] == "t.`ID` <=> s.`ID` AND t.`DAY` <=> s.`DAY`"
    assert calls["update_all"] and calls["insert_all"]
    assert calls["executed"] == 1
    assert not os.path.isdir(target)  # no parquet swap artifacts created

    # 'auto' on a (stub-)Delta table routes to MERGE too
    sinks.upsert(spark, df, target, ["ID"], table_format="auto")
    assert calls["executed"] == 2


def test_compact_unpartitioned_coalesces_files(spark, tmp_path):
    """compact() on an append-accumulated unpartitioned table: fewer
    files, identical rows."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "cflat")
    for b in range(5):
        sinks.append(
            spark.createDataFrame(
                [Row(ID=b * 10 + i, DATA=f"R{b}-{i}") for i in range(10)]
            ).repartition(4),
            path,
        )
    before_rows = sorted(
        (r["ID"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 10

    stats = sinks.compact(spark, path)
    assert stats["partitions_compacted"] == 1
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1  # tiny table fits one target file
    after_rows = sorted(
        (r["ID"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows

    # idempotent: a second pass finds nothing to do
    stats2 = sinks.compact(spark, path)
    assert stats2["partitions_compacted"] == 0


def test_compact_partitioned_touches_only_flagged_dirs(spark, tmp_path):
    """Partitioned compact: only fragmented partitions rewrite; a
    partition already at its file budget stays byte-identical (same
    sizes AND mtimes — never opened), and non-canonical directory names
    round-trip as written."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "cpart")
    # DAY=01: five fragmented appends; DAY=02: one compact write
    for b in range(5):
        sinks.append(
            spark.createDataFrame(
                [Row(ID=b * 10 + i, DAY="01", DATA=f"A{b}-{i}") for i in range(10)]
            ).repartition(3),
            path,
            partition_cols=["DAY"],
        )
    sinks.append(
        spark.createDataFrame(
            [Row(ID=1000 + i, DAY="02", DATA=f"B{i}") for i in range(10)]
        ).coalesce(1),
        path,
        partition_cols=["DAY"],
    )
    before_rows = sorted(
        (r["ID"], r["DAY"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )
    before = _file_stats(path)
    assert len([p for p in before if "DAY=01" in p and p.endswith(".parquet")]) >= 10

    stats = sinks.compact(spark, path, partition_cols=["DAY"])
    assert stats["partitions_compacted"] == 1
    assert stats["files_after"] < stats["files_before"]

    after = _file_stats(path)
    assert {p: s for p, s in after.items() if "DAY=02" in p} == {
        p: s for p, s in before.items() if "DAY=02" in p
    }
    # directory names preserved byte-identically (no 01 -> 1 re-inference)
    assert sorted(d for d in os.listdir(path) if "=" in d) == ["DAY=01", "DAY=02"]
    after_rows = sorted(
        (r["ID"], r["DAY"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows


def test_compact_splits_large_partitions_by_target_bytes(spark, tmp_path):
    """A partition bigger than target_file_bytes compacts to ~ceil(bytes/
    target) files, not to one giant file."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "cbig")
    for b in range(8):
        sinks.append(
            spark.createDataFrame(
                [
                    Row(ID=b * 1000 + i, DAY="x", DATA="p" * 200)
                    for i in range(1000)
                ]
            ).repartition(4),
            path,
            partition_cols=["DAY"],
        )
    files = [
        f
        for f in os.listdir(os.path.join(path, "DAY=x"))
        if f.endswith(".parquet")
    ]
    total = sum(
        os.path.getsize(os.path.join(path, "DAY=x", f)) for f in files
    )
    target = max(1024, total // 3)  # force a ~3-file budget
    stats = sinks.compact(
        spark, path, partition_cols=["DAY"], target_file_bytes=target
    )
    assert stats["partitions_compacted"] == 1
    want = -(-total // target)
    assert 1 < stats["files_after"] <= want + 1
    assert spark.read.parquet(path).count() == 8000


def test_vacuum_orphans_age_gated(tmp_path):
    """vacuum_orphans removes only old swap-staging siblings of the
    named table — never fresh ones, other tables', or the table itself."""
    from oracle_duckdb_sync_spark.sources import sinks

    tab = tmp_path / "vt"
    tab.mkdir()
    (tab / "a.parquet").write_bytes(b"x")
    old_tmp = tmp_path / "vt.__tmp-dead1"
    old_bak = tmp_path / "vt.__bak-dead2"
    fresh = tmp_path / "vt.__tmp-live"
    other = tmp_path / "other.__tmp-dead"
    for d in (old_tmp, old_bak, fresh, other):
        d.mkdir()
    stale = time.time() - 100_000
    os.utime(old_tmp, (stale, stale))
    os.utime(old_bak, (stale, stale))
    os.utime(other, (stale, stale))

    removed = sinks.vacuum_orphans(str(tab))
    assert sorted(os.path.basename(p) for p in removed) == [
        "vt.__bak-dead2",
        "vt.__tmp-dead1",
    ]
    assert fresh.is_dir() and other.is_dir() and tab.is_dir()
    assert (tab / "a.parquet").read_bytes() == b"x"


def test_run_maintenance_compacts_and_vacuums(spark, env, tmp_path):
    """The maintenance pass compacts fragmented catalog tables, removes
    aged staging orphans, and reports per-table stats."""
    from oracle_duckdb_sync_spark.sync.maintenance import run_maintenance
    from oracle_duckdb_sync_spark.sources import sinks

    cfg, catalog, state, engine = env
    for b in range(4):
        sinks.append(
            spark.createDataFrame(
                [Row(ID=b * 10 + i, DATA=f"R{b}-{i}") for i in range(10)]
            ).repartition(3),
            catalog.table_path("frag"),
        )
    orphan = catalog.table_path("frag") + ".__tmp-dead"
    os.makedirs(orphan)
    stale = time.time() - 100_000
    os.utime(orphan, (stale, stale))

    report = run_maintenance(catalog)
    by_table = {r["table"]: r for r in report}
    assert by_table["frag"]["files_after"] == 1
    assert by_table["frag"]["files_before"] >= 10
    assert by_table["frag"]["orphans_removed"] == 1
    assert not os.path.isdir(orphan)
    assert catalog.row_count("frag") == 40


def test_schedule_maintenance_lock_guarded(spark, env, tmp_path):
    from datetime import datetime as dt

    from oracle_duckdb_sync_spark.sync.maintenance import schedule_maintenance
    from oracle_duckdb_sync_spark.sync.scheduler import CronScheduler
    from oracle_duckdb_sync_spark.sources.state import SyncLock
    from oracle_duckdb_sync_spark.sources import sinks

    cfg, catalog, state, engine = env
    sinks.append(
        spark.createDataFrame([Row(ID=i, DATA=f"R{i}") for i in range(10)]).repartition(4),
        catalog.table_path("m1"),
    )
    lock_dir = str(tmp_path / "mlock")
    os.makedirs(lock_dir, exist_ok=True)
    sched = CronScheduler(lock=SyncLock(lock_dir))
    job = schedule_maintenance(sched, catalog, hour=3, minute=30)
    assert sched.run_pending(dt(2024, 1, 1, 3, 30)) == 1
    assert job.last_report is not None
    assert {r["table"] for r in job.last_report} >= {"m1"}

    held = SyncLock(lock_dir)
    assert held.acquire()
    sched.run_pending(dt(2024, 1, 2, 3, 30))
    assert job.skipped == 1
    held.release()


def test_compact_swap_failure_restores_table(spark, tmp_path, monkeypatch):
    """compact() shares the staged-swap/rollback protocol with upsert: a
    mid-swap failure restores every partition byte-identically and keeps
    the compacted tmp on disk."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "cft")
    for b in range(3):
        sinks.append(
            spark.createDataFrame(
                [
                    Row(ID=b * 20 + i, DAY=f"0{1 + i % 2}", DATA=f"R{b}-{i}")
                    for i in range(10)
                ]
            ).repartition(3),
            path,
            partition_cols=["DAY"],
        )
    before = _file_stats(path)
    before_rows = sorted(
        (r["ID"], r["DAY"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        if f"{os.sep}DAY=" in dst and ".__bak-" not in dst:
            calls["n"] += 1
            if calls["n"] == 2:  # second partition swap fails
                raise OSError("injected compact swap failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected compact swap failure"):
        sinks.compact(spark, path, partition_cols=["DAY"])
    monkeypatch.setattr(os, "rename", real_rename)

    assert _file_stats(path) == before
    after_rows = sorted(
        (r["ID"], r["DAY"], r["DATA"]) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows
    assert not [d for d in os.listdir(path) if "__bak" in d or "__tmp" in d]
    assert [d for d in os.listdir(tmp_path) if d.startswith("cft.__tmp-")]



def test_overwrite_failed_job_keeps_previous_table(spark, tmp_path):
    """A job that fails mid-write must leave the previous table readable
    with all its rows: overwrite stages its write beside the table."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "ow")
    sinks.overwrite(spark.range(20).withColumn("v", F.col("id") * 2), path)
    failing = spark.range(100).select(
        F.when(F.col("id") == 57, F.raise_error(F.lit("injected write failure")))
        .otherwise(F.col("id")).alias("id"),
        F.lit(0).cast("long").alias("v"),
    )
    with pytest.raises(Exception, match="injected write failure"):
        sinks.overwrite(failing, path)
    got = spark.read.parquet(path)
    assert sorted((r.id, r.v) for r in got.collect()) == [(i, 2 * i) for i in range(20)]


def test_overwrite_refreshes_persisted_reader(spark, tmp_path):
    """A persisted DataFrame over a path counts the new rows after an
    overwrite of that path, as after Spark's own overwrite."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "ow")
    sinks.overwrite(spark.range(5), path)
    reader = spark.read.parquet(path).persist()
    try:
        assert reader.count() == 5
        sinks.overwrite(spark.range(9), path)
        assert reader.count() == 9
    finally:
        reader.unpersist()


def test_rewrite_sinks_reject_remote_path(spark):
    """The rewrites swap with os.rename: a remote URI is refused before
    any job runs, instead of an upsert replacing the table by its batch."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = "s3a://bucket/t"
    batch = spark.createDataFrame([Row(id=1, v=1)])
    with pytest.raises(ValueError, match="driver-local"):
        sinks.upsert(spark, batch, path, ["id"], table_format="parquet")
    with pytest.raises(ValueError, match="driver-local"):
        sinks.delete_where(spark, path, "id = 1")
    with pytest.raises(ValueError, match="driver-local"):
        sinks.update_where(spark, path, "id = 1", {"v": F.lit(2)})
    with pytest.raises(ValueError, match="driver-local"):
        sinks.compact(spark, path)


def test_upsert_file_uri_merges_into_table(spark, tmp_path):
    """A ``file:`` URI names the local table: the upsert merges into it
    instead of taking the table-absent branch."""
    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "fu")
    sinks.overwrite(spark.createDataFrame([Row(id=i, v=i) for i in range(10)]), path)
    batch = spark.createDataFrame([Row(id=3, v=33), Row(id=10, v=10)])
    sinks.upsert(spark, batch, "file:" + path, ["id"], table_format="parquet")
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {**{i: i for i in range(10)}, 3: 33, 10: 10}

def test_delete_where_partition_scoped(spark, tmp_path):
    """Partitioned DELETE: only partitions holding matching rows are
    rewritten (untouched dirs byte/mtime-identical), a fully-matching
    partition's directory disappears, NULL conditions keep rows, and
    the deleted count is exact."""
    import os

    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    rows = [
        Row(id=1, day="2024-01-01", v=10), Row(id=2, day="2024-01-01", v=None),
        Row(id=3, day="2024-01-02", v=5),  Row(id=4, day="2024-01-02", v=50),
        Row(id=5, day="2024-01-03", v=99),  # whole partition matches
    ]
    schema = "id long, day string, v long"
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, schema).write.partitionBy("day").parquet(path)

    def snap(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
        }

    before_01 = snap("2024-01-01")
    # v > 20 matches id=4 (day 02) and id=5 (day 03); NULL v (id=2) kept
    n = sinks.delete_where(spark, path, "v > 20", ["day"])
    assert n == 2
    left = {(r.id, str(r.day)) for r in spark.read.parquet(path).collect()}
    assert left == {(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")}
    assert snap("2024-01-01") == before_01  # never opened or rewritten
    assert not os.path.isdir(os.path.join(path, "day=2024-01-03"))  # emptied
    # idempotent re-run: nothing left to delete
    assert sinks.delete_where(spark, path, "v > 20", ["day"]) == 0
    # no staging leftovers
    parent = os.path.dirname(path)
    assert not [x for x in os.listdir(parent) if ".__" in x]


def test_delete_where_unpartitioned_swap(spark, tmp_path):
    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "u")
    spark.createDataFrame(
        [Row(id=i, v=i * 10) for i in range(10)]
    ).write.parquet(path)
    assert sinks.delete_where(spark, path, "v >= 50") == 5
    assert spark.read.parquet(path).count() == 5
    assert sinks.delete_where(spark, path, "v >= 50") == 0
    assert sinks.delete_where(spark, str(tmp_path / "missing"), "v > 0") == 0


def test_update_where_partition_scoped(spark, tmp_path):
    """Partitioned UPDATE: assignments see the pre-update row, NULL
    conditions skip, untouched partitions keep file mtimes, partition
    columns are immutable, count exact."""
    import os

    import pytest as _pytest
    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    rows = [
        Row(id=1, day="2024-01-01", status="running", v=1),
        Row(id=2, day="2024-01-02", status="running", v=None),
        Row(id=3, day="2024-01-02", status="done", v=3),
    ]
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, "id long, day string, status string, v long") \
        .write.partitionBy("day").parquet(path)

    def mtimes(day):
        d = os.path.join(path, f"day={day}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before_01 = mtimes("2024-01-01")
    # v is NULL for id=2 -> condition NULL -> unchanged
    n = sinks.update_where(
        spark, path, "status = 'running' AND v > 0",
        {"status": F.lit("failed"), "v": F.col("v") * 10},
        ["day"],
    )
    assert n == 1
    got = {r.id: (r.status, r.v) for r in spark.read.parquet(path).collect()}
    assert got[1] == ("failed", 10)
    assert got[2] == ("running", None)
    assert got[3] == ("done", 3)
    assert mtimes("2024-01-01") != before_01  # id=1 partition rewritten
    with _pytest.raises(ValueError, match="partition column"):
        sinks.update_where(spark, path, "id = 3", {"day": F.lit("x")}, ["day"])
    # only day=01 contains matches -> day=02 untouched
    b02 = mtimes("2024-01-02")
    sinks.update_where(spark, path, "status = 'failed'", {"v": F.lit(0)}, ["day"])
    assert mtimes("2024-01-02") == b02


def test_update_where_assignments_see_pre_update_row(spark, tmp_path):
    """SQL UPDATE semantics: `SET a = b, b = a` swaps — assignments must
    never observe each other's writes."""
    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "swap")
    spark.createDataFrame([Row(id=1, a=1, b=2)]).write.parquet(path)
    n = sinks.update_where(
        spark, path, "id = 1", {"a": F.col("b"), "b": F.col("a")}
    )
    assert n == 1
    r = spark.read.parquet(path).first()
    assert (r.a, r.b) == (2, 1)


def test_update_where_rejects_unknown_assignment_column(spark, tmp_path):
    """A typo'd assignment column must error like SQL UPDATE — never
    silently rewrite partitions while reporting a positive count."""
    import os

    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [Row(id=1, day="2024-01-01", v=1), Row(id=2, day="2024-01-02", v=2)],
        "id long, day string, v long",
    ).write.partitionBy("day").parquet(path)

    def mtimes():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    with pytest.raises(ValueError, match="vv"):
        sinks.update_where(spark, path, "v > 0", {"vv": F.lit(9)}, ["day"])
    with pytest.raises(ValueError, match="unknown column"):
        sinks.update_where(spark, path, "v > 0", {"v": F.lit(9), "nope": F.lit(1)})
    assert mtimes() == before  # nothing rewritten


def test_mutation_scope_semi_join_many_partitions(spark, tmp_path):
    """Past _SCOPE_LITERAL_MAX touched partitions the scope predicate
    switches to a broadcast semi-join (bounded plan size); semantics —
    exact counts, untouched partitions never rewritten — are identical
    to the literal path."""
    import os

    from oracle_duckdb_sync_spark.sources import sinks

    n_parts = sinks._SCOPE_LITERAL_MAX + 16
    path = str(tmp_path / "many")
    df = spark.range(n_parts * 2).selectExpr(
        "id", "concat('d', lpad(cast(id % {n} as string), 3, '0')) AS day".format(
            n=n_parts
        ),
        "cast(id as long) * 10 AS v",
    )
    df.repartition(8).write.partitionBy("day").parquet(path)

    untouched = os.path.join(path, "day=d000")
    before = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }
    # touches every partition except day=d000 (ids 0 and n_parts)
    n = sinks.delete_where(
        spark, path, "id >= {n} AND id != {n}".format(n=n_parts), ["day"]
    )
    assert n == n_parts - 1
    left = spark.read.parquet(path)
    assert left.count() == n_parts + 1
    assert {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    } == before

    n = sinks.update_where(
        spark, path, "id < {n} AND id > 0".format(n=n_parts),
        {"v": F.col("v") + 1}, ["day"],
    )
    assert n == n_parts - 1
    got = spark.read.parquet(path)
    assert got.filter("id > 0 AND v % 10 = 1").count() == n_parts - 1


def test_mutation_sinks_escaped_partition_values(spark, tmp_path):
    """Partition values containing Hive-escaped characters (/, :, %,
    space) round-trip through delete/update/compact: directory names
    use the writer's %XX escaping, a fully-deleted partition's escaped
    dir is removed, and no stray nested paths appear."""
    import os

    from pyspark.sql import Row

    from oracle_duckdb_sync_spark.sources import sinks

    rows = [
        Row(id=1, source="a/b", v=1),
        Row(id=2, source="a/b", v=2),
        Row(id=3, source="x:y z", v=3),
        Row(id=4, source="p%q", v=4),  # whole partition will match
    ]
    path = str(tmp_path / "esc")
    spark.createDataFrame(rows, "id long, source string, v long") \
        .write.partitionBy("source").parquet(path)
    dirs = {d for d in os.listdir(path) if "=" in d}
    assert dirs == {"source=a%2Fb", "source=x%3Ay z", "source=p%25q"}

    # delete: id=2 (partial partition) + id=4 (whole partition)
    n = sinks.delete_where(spark, path, "id IN (2, 4)", ["source"])
    assert n == 2
    assert not os.path.isdir(os.path.join(path, "source=p%25q"))
    assert not os.path.isdir(os.path.join(path, "source=p"))  # no mis-split
    left = {(r.id, r.source) for r in spark.read.parquet(path).collect()}
    assert left == {(1, "a/b"), (3, "x:y z")}

    n = sinks.update_where(
        spark, path, "source = 'a/b'", {"v": F.lit(100)}, ["source"]
    )
    assert n == 1
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 100, 3: 3}

    # compact with special-char partitions (hash-chunk path): lossless
    for _ in range(3):
        spark.createDataFrame(
            [Row(id=10, source="a/b", v=5)], "id long, source string, v long"
        ).write.mode("append").partitionBy("source").parquet(path)
    res = sinks.compact(
        spark, path, partition_cols=["source"], min_files=2,
    )
    assert res["partitions_compacted"] >= 1
    assert spark.read.parquet(path).filter("id = 10").count() == 3


def test_upsert_iceberg_guard_and_merge_plumbing(spark, tmp_path):
    """table_format='iceberg': a JVM-classpath probe (no runtime jar in
    this environment -> clear RuntimeError), and the MERGE INTO
    statement shape pinned against a recording session stand-in so the
    path lights up unchanged once a public Iceberg runtime is on the
    classpath."""
    from oracle_duckdb_sync_spark.sources import sinks

    df = spark.createDataFrame([Row(ID=1, V=1)])
    assert not sinks.iceberg_available(spark)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        sinks.upsert(
            spark, df, str(tmp_path / "i"), ["ID"],
            table_format="iceberg", table_identifier="cat.db.t",
        )

    class RecordingSpark:
        def __init__(self, real):
            self._real = real
            self.stmts = []

        def sql(self, q):
            self.stmts.append(q)

        @property
        def catalog(self):
            return self._real.catalog

    rec = RecordingSpark(spark)
    sinks._upsert_iceberg(rec, df, "cat.db.t", ["ID", "DAY"])
    (stmt,) = rec.stmts
    assert stmt.startswith("MERGE INTO cat.db.t t USING __ods_merge_src_")
    assert "t.`ID` <=> s.`ID` AND t.`DAY` <=> s.`DAY`" in stmt
    assert "WHEN MATCHED THEN UPDATE SET *" in stmt
    assert "WHEN NOT MATCHED THEN INSERT *" in stmt
    # temp view dropped even though sql() was a no-op
    assert not [t.name for t in spark.catalog.listTables() if "__ods_merge_src_" in t.name]
    # identifier required when the format is explicit
    with pytest.raises((RuntimeError, ValueError)):
        sinks.upsert(spark, df, str(tmp_path / "i2"), ["ID"], table_format="iceberg")

    # bootstrap path: absent table -> CREATE from the batch (writeTo V2,
    # partitionedBy honored), MERGE never issued
    class FakeWriter:
        def __init__(self):
            self.calls = []

        def using(self, fmt):
            self.calls.append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            self.calls.append(("partitionedBy", len(cols)))
            return self

        def create(self):
            self.calls.append(("create",))

    class FakeCat:
        @staticmethod
        def tableExists(ident):
            return False

    class BootSpark:
        catalog = FakeCat()

        def sql(self, q):
            raise AssertionError("MERGE must not run when bootstrapping")

    writer = FakeWriter()

    class FakeDF:
        @staticmethod
        def writeTo(ident):
            writer.calls.append(("writeTo", ident))
            return writer

    sinks._upsert_iceberg(BootSpark(), FakeDF(), "cat.db.t", ["ID"], ["DAY"])
    assert writer.calls == [
        ("writeTo", "cat.db.t"), ("using", "iceberg"),
        ("partitionedBy", 1), ("create",),
    ]
    # merge_schema has no Iceberg mapping: loud refusal, not silent drop
    with pytest.raises(ValueError, match="merge_schema"):
        sinks.upsert(
            spark, df, str(tmp_path / "i3"), ["ID"], table_format="iceberg",
            table_identifier="cat.db.t", merge_schema=True,
        )


def test_catalog_relation_memo_and_mutation_invalidation(spark, tmp_path, env):
    """Interactive-loop contract: repeat metadata/table actions reuse
    the analyzed relation (ZERO extra schema-inference jobs), while ANY
    on-disk mutation — full-dir swap via upsert, or an append into an
    existing partition LEAF (which only bumps the leaf dir's mtime) —
    invalidates the memo so a stale file listing is never served."""
    from oracle_duckdb_sync_spark.sources import sinks

    _cfg, catalog, _state, _engine = env

    def jobs():
        return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()

    path = catalog.table_path("memo_t")
    spark.createDataFrame(
        [Row(id=1, day="d1"), Row(id=2, day="d2")]
    ).write.partitionBy("day").parquet(path)
    catalog.describe("memo_t")  # first touch pays the inference job
    j0 = jobs()
    catalog.describe("memo_t")
    catalog.columns("memo_t")
    assert catalog.table("memo_t") is catalog.table("memo_t")
    assert jobs() == j0  # memo hit: no listing/inference jobs

    # upsert swaps partition dirs -> memo invalid -> fresh data visible
    sinks.upsert(
        spark, spark.createDataFrame([Row(id=3, day="d1")]), path, ["id"],
        partition_cols=["day"],
    )
    assert catalog.row_count("memo_t") == 3
    # append into the EXISTING d1 leaf (no new partition dir at root)
    spark.createDataFrame([Row(id=4, day="d1")]).write.mode("append").partitionBy(
        "day"
    ).parquet(path)
    assert catalog.row_count("memo_t") == 4
    # explicit invalidation API exists and is a no-op when already fresh
    catalog.invalidate("memo_t")
    assert catalog.row_count("memo_t") == 4
