"""JDBC source verified end-to-end against embedded Apache Derby.

Derby ships inside Spark's jars (hive-metastore dependency), so it is
the one real JDBC database available in-container. These tests exercise
the exact production code path — ``spark.read.format("jdbc")`` with
fetchsize batching (A2), range-partitioned parallel cursors (A3), the
pushed watermark predicate (A1+B3), and a complete ``SyncEngine``
full→incremental cycle through :class:`JdbcSyncSource` (H1-H3) — only
the literal dialect differs from Oracle (``TIMESTAMP('...')`` vs
``TO_TIMESTAMP``), via the config's ``timestamp_literal`` hook.
Reference parity: database/oracle_source.py:100-287.
"""

from __future__ import annotations

from dataclasses import dataclass

import pytest

from oracle_duckdb_sync_spark.sources import jdbc as J

DERBY_URL = "jdbc:derby:memory:syncdb;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@dataclass
class DerbyConfig(J.JdbcSourceConfig):
    """Derby dialect: TIMESTAMP('yyyy-mm-dd hh:mm:ss.ffffff') literal."""

    def timestamp_literal(self, value):
        wall = self._wall_clock(value) if isinstance(value, int) else str(value)
        if "'" in wall:
            raise ValueError(f"invalid watermark literal: {value!r}")
        return f"TIMESTAMP('{wall}')"


def _jvm_tz(spark) -> str:
    """Timezone the JDBC driver uses to interpret naive DB timestamps
    (JVM default) — what db_timezone must be set to for exact watermark
    round-trips."""
    return spark._jvm.java.util.TimeZone.getDefault().getID()


ROWS = [
    (1, "2024-03-01 10:00:00", 10.0),
    (2, "2024-03-01 10:05:00", 20.0),
    (3, "2024-03-01 10:10:00", 30.0),
    (4, "2024-03-01 10:15:00", 40.0),
    (5, "2024-03-01 10:20:00", 50.0),
    (6, "2024-03-01 10:25:00", 60.0),
]


@pytest.fixture(scope="module")
def derby(spark):
    """In-memory Derby DB seeded with a sync-shaped events table.

    Uses py4j to run DDL/DML through java.sql — the same JVM Spark's
    JDBC connector reads from, so embedded ``memory:`` URLs resolve.
    """
    dm = spark._jvm.java.sql.DriverManager
    conn = dm.getConnection(DERBY_URL)
    st = conn.createStatement()
    try:
        st.executeUpdate("DROP TABLE EVENTS")
    except Exception:
        pass
    st.executeUpdate(
        "CREATE TABLE EVENTS (ID INT PRIMARY KEY, TS TIMESTAMP, VAL DOUBLE)"
    )
    for i, ts, v in ROWS:
        st.executeUpdate(f"INSERT INTO EVENTS VALUES ({i}, TIMESTAMP('{ts}'), {v})")
    conn.commit()
    yield conn
    st.close()
    conn.close()


@pytest.fixture()
def cfg(spark):
    return DerbyConfig(
        url=DERBY_URL, user="", password="", driver=DERBY_DRIVER,
        db_timezone=_jvm_tz(spark),
    )


def test_full_table_read(spark, derby, cfg):
    """A1: full scan through the JDBC connector."""
    df = J.read_table(spark, cfg, "EVENTS")
    got = sorted((r["ID"], r["VAL"]) for r in df.collect())
    assert got == [(i, v) for i, _, v in ROWS]


def test_batched_fetch(spark, derby, cfg):
    """A2: fetchsize batching — 2-row cursor batches, same result."""
    small = DerbyConfig(url=DERBY_URL, user="", password="",
                        driver=DERBY_DRIVER, fetchsize=2)
    df = J.read_table(spark, small, "EVENTS")
    assert df.count() == len(ROWS)


def test_partitioned_parallel_read(spark, derby, cfg):
    """A3: range-partitioned read — N concurrent cursors, exact union."""
    par = DerbyConfig(url=DERBY_URL, user="", password="",
                      driver=DERBY_DRIVER,
                      partition_column="ID", num_partitions=3)
    df = J.read_table(spark, par, "EVENTS", lower_bound=1, upper_bound=7)
    assert df.rdd.getNumPartitions() == 3
    assert sorted(r["ID"] for r in df.collect()) == [1, 2, 3, 4, 5, 6]


def test_incremental_string_watermark(spark, derby, cfg):
    """A1+B3: exclusive > bound on a preformatted wall-clock string,
    evaluated inside the DB."""
    df = J.read_incremental(spark, cfg, "EVENTS", "TS", "2024-03-01 10:10:00")
    assert [r["ID"] for r in df.collect()] == [4, 5, 6]  # 10:10 excluded


def test_incremental_epoch_micros_watermark(spark, derby, cfg):
    """The engine's persisted epoch-micros int round-trips through the
    dialect literal and lands on the exact row boundary."""
    from oracle_duckdb_sync_spark.operators.query import collect_watermark

    full = J.read_table(spark, cfg, "EVENTS")
    wm = collect_watermark(full.filter("ID <= 3"), "TS")
    assert isinstance(wm, int)
    df = J.read_incremental(spark, cfg, "EVENTS", "TS", wm)
    assert [r["ID"] for r in df.collect()] == [4, 5, 6]


def test_identifier_injection_rejected(spark, cfg):
    with pytest.raises(ValueError):
        J.read_table(spark, cfg, "EVENTS; DROP TABLE EVENTS")
    with pytest.raises(ValueError):
        J.read_incremental(spark, cfg, "EVENTS", "TS OR 1=1", None)
    with pytest.raises(ValueError):
        cfg.timestamp_literal("2024-01-01' OR '1'='1")


def test_sync_engine_full_then_incremental(spark, derby, cfg, tmp_path):
    """H1-H3 against a live JDBC source: full sync, rows arrive, the
    incremental sync reads ONLY the new rows (predicate pushed to the
    DB) and advances the persisted watermark."""
    from oracle_duckdb_sync_spark.config import EngineConfig
    from oracle_duckdb_sync_spark.sources.catalog import Catalog
    from oracle_duckdb_sync_spark.sources.state import SyncStateStore
    from oracle_duckdb_sync_spark.sync.engine import SyncEngine

    ec = EngineConfig(warehouse_dir=str(tmp_path / "wh"),
                      state_dir=str(tmp_path / "state"))
    engine = SyncEngine(spark, Catalog(spark, ec), SyncStateStore(ec.state_dir))
    src = J.JdbcSyncSource(cfg, "EVENTS")

    full = engine.full_sync(src, "events_dst", time_column="TS", primary_key="ID")
    assert full.success and full.rows == len(ROWS)
    assert isinstance(full.new_watermark, int)

    dm = spark._jvm.java.sql.DriverManager
    conn = dm.getConnection(DERBY_URL)
    st = conn.createStatement()
    st.executeUpdate(
        "INSERT INTO EVENTS VALUES (7, TIMESTAMP('2024-03-01 10:30:00'), 70.0)"
    )
    st.executeUpdate(
        "INSERT INTO EVENTS VALUES (8, TIMESTAMP('2024-03-01 10:35:00'), 80.0)"
    )
    conn.commit()
    st.close()
    conn.close()

    inc = engine.incremental_sync(src, "events_dst", "TS")
    assert inc.success and inc.rows == 2  # only the new rows crossed
    assert inc.new_watermark > full.new_watermark

    dst = engine.catalog.table("events_dst")
    assert sorted(r["ID"] for r in dst.collect()) == [1, 2, 3, 4, 5, 6, 7, 8]


# ---------------------------------------------------------------------------
# timestamp_literal / _wall_clock: format lock + DST edges (no DB needed)
# ---------------------------------------------------------------------------
# The Oracle-dialect literal rendering is the one JDBC path no in-container
# database exercises (sources/jdbc.py:109-150); these tests pin its exact
# output so a regression is caught without an Oracle server.

US = 1_000_000


def _us(iso_utc: str) -> int:
    """'YYYY-MM-DD HH:MM:SS.ffffff' (UTC) → epoch microseconds."""
    from datetime import datetime, timezone

    return int(
        datetime.fromisoformat(iso_utc).replace(tzinfo=timezone.utc).timestamp()
    ) * US + int(iso_utc[20:].ljust(6, "0") or 0)


def test_timestamp_literal_format_lock_utc():
    c = J.JdbcSourceConfig(url="jdbc:oracle:thin:@//h:1521/s", user="", password="")
    # 2024-03-01 10:30:00.000001 UTC
    lit = c.timestamp_literal(_us("2024-03-01 10:30:00.000001"))
    assert lit == (
        "TO_TIMESTAMP('2024-03-01 10:30:00.000001', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    )
    # str passthrough keeps the exact wall clock
    assert c.timestamp_literal("2024-03-01 10:30:00.500000") == (
        "TO_TIMESTAMP('2024-03-01 10:30:00.500000', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    )


def test_wall_clock_microsecond_exactness_utc():
    c = J.JdbcSourceConfig(url="u", user="", password="")
    # µs survive the render exactly — including values whose float
    # seconds representation would drift by ±1 µs
    for frac in (1, 999_999, 500_000, 123_457):
        micros = _us("2021-07-01 12:00:00") + frac
        assert c._wall_clock(micros).endswith(f".{frac:06d}")


def test_wall_clock_dst_spring_forward_nonutc():
    # America/New_York 2021-03-14: 02:00 EST jumps to 03:00 EDT at
    # 07:00 UTC. One µs before the transition renders 01:59:59.999999;
    # the transition instant renders 03:00:00 (02:xx never exists).
    c = J.JdbcSourceConfig(
        url="u", user="", password="", db_timezone="America/New_York"
    )
    t = _us("2021-03-14 07:00:00")
    assert c._wall_clock(t - 1) == "2021-03-14 01:59:59.999999"
    assert c._wall_clock(t) == "2021-03-14 03:00:00.000000"


def test_wall_clock_dst_fall_back_warns_on_ambiguous():
    # America/New_York 2021-11-07: 02:00 EDT falls back to 01:00 EST at
    # 06:00 UTC, so local 01:00-01:59 occurs twice. Both instants render
    # the same naive wall clock — the documented skip/re-read hazard —
    # and must warn. Outside the repeated hour: no warning.
    c = J.JdbcSourceConfig(
        url="u", user="", password="", db_timezone="America/New_York"
    )
    first = _us("2021-11-07 05:30:00")   # 01:30 EDT (first pass)
    second = _us("2021-11-07 06:30:00")  # 01:30 EST (second pass)
    with pytest.warns(UserWarning, match="ambiguous"):
        w1 = c._wall_clock(first)
    with pytest.warns(UserWarning, match="ambiguous"):
        w2 = c._wall_clock(second)
    assert w1 == w2 == "2021-11-07 01:30:00.000000"  # the ambiguity, explicit

    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")  # any warning → test failure
        assert c._wall_clock(_us("2021-11-07 07:30:00")) == (
            "2021-11-07 02:30:00.000000"
        )
        # UTC config never warns, even at the same instants
        cu = J.JdbcSourceConfig(url="u", user="", password="")
        assert cu._wall_clock(first) == "2021-11-07 05:30:00.000000"
