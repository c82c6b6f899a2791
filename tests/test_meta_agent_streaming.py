"""Metadata repositories, worker/scheduler, agent tools, streaming."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.agent.core import Agent, Conversation, LlmReply, ToolCall
from oracle_duckdb_sync_spark.agent.tools import build_default_registry
from oracle_duckdb_sync_spark.config import EngineConfig
from oracle_duckdb_sync_spark.meta.repos import (
    SYNC_LOG_SCHEMA,
    MenuRepository,
    SyncLogRepository,
    TableConfigRepository,
    UserRepository,
    verify_password,
)
from oracle_duckdb_sync_spark.sources.catalog import Catalog
from oracle_duckdb_sync_spark.sources.state import SyncLock, SyncStateStore
from oracle_duckdb_sync_spark.sync.engine import ParquetSyncSource
from oracle_duckdb_sync_spark.sync.scheduler import CronScheduler
from oracle_duckdb_sync_spark.sync.service import SyncService
from oracle_duckdb_sync_spark.sync.worker import COMPLETED, SyncWorker
from oracle_duckdb_sync_spark import streaming as ST
from tests.conftest import count_jobs


# -- metadata repositories ---------------------------------------------------


def test_sync_log_lifecycle_and_stats(spark, tmp_path):
    repo = SyncLogRepository(spark, str(tmp_path))
    i1 = repo.log_start("s1", "orders", "full")
    assert repo.log_end(i1, "completed", total_rows=100)
    i2 = repo.log_start("s2", "orders", "incremental")
    assert repo.log_end(i2, "failed", error_message="boom")
    i3 = repo.log_start("s3", "events", "full")
    repo.log_end(i3, "completed", total_rows=300)

    stats = repo.stats()
    assert stats["total_count"] == 3
    assert stats["completed_count"] == 2 and stats["failed_count"] == 1
    assert stats["sum_total_rows"] == 400 and stats["avg_total_rows"] == 200.0

    stats_orders = repo.stats("orders")
    assert stats_orders["total_count"] == 2 and stats_orders["sum_total_rows"] == 100

    recent = repo.recent(2)
    assert [r["sync_id"] for r in recent] == ["s3", "s2"]

    assert repo.cleanup_old(days=30) == 0  # nothing old yet
    assert repo.count() == 3


def test_log_end_duration_under_non_utc_driver_zone(spark, tmp_path, monkeypatch):
    """The duration comes from the stored instants, whatever the driver
    OS's time zone: a collected start_time is a naive local datetime."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        repo = SyncLogRepository(spark, str(tmp_path))
        i = repo.log_start("s1", "orders", "full")
        assert repo.log_end(i, "completed", total_rows=3)
        row = repo.get(i)
        assert row["status"] == "completed" and row["total_rows"] == 3
        assert 0 <= row["duration_seconds"] < 60
        assert not repo.log_end(i + 1, "completed")
    finally:
        monkeypatch.undo()
        time.tzset()


def test_auto_increment_ids(spark, tmp_path):
    repo = TableConfigRepository(spark, str(tmp_path))
    a = repo.insert(table_name="t1", sync_enabled=True)
    b = repo.insert(table_name="t2", sync_enabled=False)
    assert (a, b) == (1, 2)
    repo.delete(a)
    c = repo.insert(table_name="t3", sync_enabled=True)
    assert c == 3  # max(id)+1, ids never reused while t2 exists
    assert repo.upsert_config("t2", sync_enabled=True) == b
    assert sorted(repo.enabled_tables()) == ["t2", "t3"]


def test_user_auth_and_menu_cascade(spark, tmp_path):
    menus = MenuRepository(spark, str(tmp_path))
    users = UserRepository(spark, str(tmp_path), menus=menus)
    uid = users.create_user("alice", "s3cret", role="admin")
    with pytest.raises(ValueError):
        users.create_user("alice", "other")
    assert users.authenticate("alice", "s3cret")["id"] == uid
    assert users.authenticate("alice", "wrong") is None
    assert verify_password("s3cret", users.get(uid)["password_hash"])

    menus.insert(user_id=uid, name="Home", path="/", order=2, is_active=True)
    menus.insert(user_id=uid, name="Admin", path="/admin", order=1, is_active=True)
    assert [m["name"] for m in menus.for_user(uid)] == ["Admin", "Home"]

    # an ownerless menu: its NULL user_id never equals a deleted id
    public = menus.insert(user_id=None, name="Public", path="/p", order=3, is_active=True)

    users.delete(uid)  # FK ON DELETE CASCADE parity
    assert [m["id"] for m in menus.all()] == [public] and users.count() == 0


def test_metadata_mutations_run_no_spark_job(spark, tmp_path):
    """Opening a repository and every mutation run on the driver: no
    Spark job. The reads after them see every change."""
    old = datetime(2000, 1, 1, tzinfo=timezone.utc)

    def mutate():
        logs = SyncLogRepository(spark, str(tmp_path))
        configs = TableConfigRepository(spark, str(tmp_path))
        i = logs.log_start("s1", "orders", "full")
        assert logs.log_end(i, "completed", total_rows=5)
        j = logs.insert(sync_id="s0", table_name="orders", status="running", start_time=old)
        assert logs.update(j, status="failed", total_rows="7")
        assert logs.cleanup_old(days=30) == 1
        assert logs.delete(logs.log_start("s2", "events", "full"))
        c = configs.upsert_config("t", sync_enabled=True)
        assert configs.upsert_config("t", sync_enabled=False, time_column="ts") == c
        return logs, configs

    (logs, configs), n = count_jobs(spark, mutate)
    assert n == 0
    [row] = logs.all()
    assert (row["sync_id"], row["status"], row["total_rows"]) == ("s1", "completed", 5)
    assert 0 <= row["duration_seconds"] < 60
    [cfg] = configs.find(table_name="t")
    assert cfg["sync_enabled"] is False and cfg["time_column"] == "ts"


_T0 = datetime(2024, 3, 10, 6, 30, tzinfo=timezone.utc)  # New York's DST gap at 07:00


def _spark_written_logs(spark, base) -> list[dict]:
    """A ``sync_logs`` directory as Spark writes it (two part files,
    ``_SUCCESS``, Spark's timestamp encoding); returns its rows."""
    rows = [
        {"id": i, "sync_id": f"s{i}", "table_name": "orders", "sync_type": "full",
         "status": "completed", "total_rows": 10 * i, "error_message": None,
         "start_time": _T0 + timedelta(minutes=i), "end_time": _T0 + timedelta(minutes=i, seconds=3),
         "duration_seconds": 3.0}
        for i in (1, 2, 5)
    ]
    names = SYNC_LOG_SCHEMA.fieldNames()
    spark.createDataFrame([tuple(r[k] for k in names) for r in rows], SYNC_LOG_SCHEMA) \
        .repartition(2).write.parquet(os.path.join(base, "sync_logs"))
    return rows


def _table_rows(repo) -> tuple[list, list[dict]]:
    """The table through Spark (instants as epoch µs) and through
    pyarrow's discovery of the whole directory."""
    via_spark = [tuple(r) for r in repo.df().selectExpr(
        "id", "status", "total_rows", "unix_micros(start_time)", "unix_micros(end_time)"
    ).orderBy("id").collect()]
    return via_spark, pq.read_table(repo.path).sort_by("id").to_pylist()


def _as_spark(rows: list[dict]) -> list[tuple]:
    us = lambda t: None if t is None else (t - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)  # noqa: E731
    return [(r["id"], r["status"], r["total_rows"], us(r["start_time"]), us(r["end_time"]))
            for r in rows]


def test_spark_written_table_migrates_to_one_file(spark, tmp_path):
    """A table the Spark write path left opens with the same rows as one
    data file, and the next id is max+1."""
    rows = _spark_written_logs(spark, str(tmp_path))
    repo = SyncLogRepository(spark, str(tmp_path))
    assert os.listdir(repo.path) == ["data.parquet"]
    assert _table_rows(repo) == (_as_spark(rows), rows)
    assert repo.log_start("s6", "orders", "full") == 6


_KILL_CHILD = """
import os, signal, sys
from oracle_duckdb_sync_spark.meta.repos import SyncLogRepository

base, point = sys.argv[1:]
replace, remove = os.replace, os.remove

def die():
    os.kill(os.getpid(), signal.SIGKILL)

if point == "before-replace":  # the sibling is written and fsynced
    os.replace = lambda *a: die()
elif point == "after-replace":
    os.replace = lambda *a: (replace(*a), die())
elif point == "mid-cleanup":  # one stray file removed
    os.remove = lambda p: (remove(p), die())
repo = SyncLogRepository(None, base)  # migrates a Spark-written table
repo.update(1, status="failed", total_rows=7)
sys.exit(3)
"""


@pytest.mark.parametrize("layout,point", [
    ("one-file", "before-replace"), ("one-file", "after-replace"),
    ("spark", "before-replace"), ("spark", "after-replace"), ("spark", "mid-cleanup"),
])
def test_kill_leaves_old_or_new_table(spark, tmp_path, layout, point):
    """A process SIGKILLed at each step of a mutation or of the migration
    leaves the old table or the new one: after a restart, Spark and
    pyarrow both read exactly one of them. The child writes without a
    session, so it starts no JVM."""
    base = str(tmp_path)
    before = _spark_written_logs(spark, base)
    if layout == "one-file":
        SyncLogRepository(spark, base)
    after = [dict(r, status="failed", total_rows=7) if r["id"] == 1 else r for r in before]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run([sys.executable, "-c", _KILL_CHILD, base, point],
                           env={**os.environ, "PYTHONPATH": root}, timeout=120)
    assert child.returncode == -signal.SIGKILL
    repo = SyncLogRepository(spark, base)
    want = after if (layout, point) == ("one-file", "after-replace") else before
    assert os.listdir(repo.path) == ["data.parquet"]
    assert _table_rows(repo) == (_as_spark(want), want)


# -- worker / scheduler ------------------------------------------------------


def test_worker_lifecycle_and_progress():
    def task(progress_cb):
        for i in range(3):
            progress_cb(rows_done=(i + 1) * 10, rows_total=30)
        return "done"

    w = SyncWorker(target=task)
    w.start()
    w.join(10)
    assert w.status == COMPLETED and w.result == "done"
    ticks = w.drain_progress()
    assert any(p.rows_done == 30 for p in ticks)
    assert w.snapshot()["state"] == COMPLETED


def test_worker_stop_and_error():
    import threading
    started = threading.Event()

    def slow(progress_cb):
        started.set()
        for i in range(1000):
            progress_cb(rows_done=i)
            time.sleep(0.01)

    w = SyncWorker(target=slow)
    w.start()
    started.wait(5)
    w.stop()
    w.join(10)
    assert w.status == "stopped"

    def bad(progress_cb):
        raise ValueError("nope")

    w2 = SyncWorker(target=bad)
    w2.start()
    w2.join(10)
    assert w2.status == "error" and "nope" in w2.error


def test_scheduler_fire_and_lock_skip(tmp_path):
    fired = []
    sched = CronScheduler(lock=SyncLock(str(tmp_path)))
    sched.add_job("daily", 3, 30, lambda: fired.append(1))
    assert sched.run_pending(datetime(2024, 1, 1, 3, 29)) == 0
    assert sched.run_pending(datetime(2024, 1, 1, 3, 30)) == 1
    # same minute: not refired
    assert sched.run_pending(datetime(2024, 1, 1, 3, 30, 30)) == 0
    # next day: fires again
    assert sched.run_pending(datetime(2024, 1, 2, 3, 30)) == 1
    assert len(fired) == 2

    held = SyncLock(str(tmp_path))
    assert held.acquire()
    sched.run_pending(datetime(2024, 1, 3, 3, 30))
    assert sched.jobs["daily"].skipped == 1 and len(fired) == 2
    held.release()


# -- log ring buffer -----------------------------------------------------------


def test_log_ring_capacity_and_filters():
    """Old entries evict at maxlen; level filter and count slicing work
    on the snapshot (reference log_stream.py get_logs)."""
    import logging

    from oracle_duckdb_sync_spark.log import LogRingHandler

    h = LogRingHandler(max_size=5)
    lg = logging.getLogger("ring_cap_test")
    lg.setLevel(logging.INFO)
    lg.addHandler(h)
    try:
        for i in range(12):
            lg.info("m%d", i)
        lg.warning("w1")
        assert h.get_count() == 5  # eviction kept the newest 5
        msgs = [e.message for e in h.get_logs()]
        assert msgs == ["m8", "m9", "m10", "m11", "w1"]
        assert [e.message for e in h.get_logs(level="WARNING")] == ["w1"]
        assert [e.message for e in h.get_latest(2)] == ["m11", "w1"]
        assert h.get_logs(count=1)[0].message == "w1"
        d = h.get_logs()[0].to_dict()
        assert d["level"] == "INFO" and d["source"] == "ring_cap_test"
        assert "m8" in str(h.get_logs()[0])
        h.clear()
        assert h.get_count() == 0
    finally:
        lg.removeHandler(h)


def test_log_ring_thread_safe_snapshot():
    """Concurrent writers + a snapshotting reader: every snapshot is a
    consistent list of whole entries and the final count is exact."""
    import logging
    import threading

    from oracle_duckdb_sync_spark.log import LogRingHandler

    h = LogRingHandler(max_size=50)
    lg = logging.getLogger("ring_thread_test")
    lg.setLevel(logging.INFO)
    lg.addHandler(h)
    stop = threading.Event()
    snapshots: list[int] = []

    def writer(tag):
        for i in range(300):
            lg.info("%s-%d", tag, i)

    def reader():
        while not stop.is_set():
            snap = h.get_logs()
            assert all(e.message for e in snap)
            snapshots.append(len(snap))

    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in "ab"]
        r = threading.Thread(target=reader)
        r.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        stop.set()
        r.join(30)
        assert h.get_count() == 50
        assert snapshots and all(n <= 50 for n in snapshots)
    finally:
        lg.removeHandler(h)


def test_worker_logs_land_in_installed_ring():
    """install_ring_handler wires the package logger; SyncWorker
    progress and error lines become readable via get_logs."""
    import logging

    from oracle_duckdb_sync_spark.log import install_ring_handler

    h = install_ring_handler(max_size=100)
    h.clear()
    try:
        def task(progress_cb):
            progress_cb(rows_done=5, rows_total=10, message="halfway")
            return "ok"

        w = SyncWorker(target=task)
        w.start()
        w.join(10)
        assert w.status == COMPLETED
        msgs = [e.message for e in h.get_logs()]
        assert any("halfway" in m for m in msgs)
        assert any("done" in m for m in msgs)

        def bad(progress_cb):
            raise ValueError("ring boom")

        w2 = SyncWorker(target=bad)
        w2.start()
        w2.join(10)
        errs = h.get_logs(level="ERROR")
        assert any("ring boom" in e.message for e in errs)
        assert all(
            e.source == "oracle_duckdb_sync_spark.sync.worker" for e in errs
        )
    finally:
        logging.getLogger("oracle_duckdb_sync_spark").removeHandler(h)


# -- sync service end-to-end -------------------------------------------------


def test_sync_service_full_then_incremental(spark, tmp_path):
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"), state_dir=str(tmp_path / "st"))
    catalog = Catalog(spark, cfg)
    state = SyncStateStore(cfg.state_dir)
    logs = SyncLogRepository(spark, str(tmp_path / "meta"))
    svc = SyncService(spark, catalog, state, cfg, sync_logs=logs)

    src_path = str(tmp_path / "src")
    rows = [Row(id=i, ts=datetime(2024, 1, 1, 0, i), v=float(i)) for i in range(30)]
    spark.createDataFrame(rows).write.parquet(src_path)
    source = ParquetSyncSource(src_path)

    assert svc.resolve_sync_type("t")[0] == "full"
    w = svc.start_sync(source, "t", time_column="ts")
    w.join(60)
    assert w.status == COMPLETED and w.result.success
    assert catalog.row_count("t") == 30
    assert logs.recent(1)[0]["status"] == "completed"
    assert not svc.lock.is_locked()

    # delta rows → incremental picks up only the new ones
    more = [Row(id=100 + i, ts=datetime(2024, 1, 1, 1, i), v=1.0) for i in range(5)]
    spark.createDataFrame(more).write.mode("append").parquet(src_path)
    stype, last = svc.resolve_sync_type("t")
    assert stype == "incremental" and last is not None
    w2 = svc.start_sync(source, "t", time_column="ts")
    w2.join(60)
    assert w2.status == COMPLETED and w2.result.rows == 5
    assert catalog.row_count("t") == 35


# -- agent -------------------------------------------------------------------


def test_agent_react_loop(spark, tmp_path):
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    catalog = Catalog(spark, cfg)
    spark.createDataFrame([Row(a=1), Row(a=2)]).write.parquet(catalog.table_path("demo"))

    registry = build_default_registry(catalog)
    assert registry.names() == ["get_table_stats", "list_tables", "query_table"]
    assert all(s["function"]["name"] for s in registry.schemas())

    script = [
        LlmReply(tool_calls=[ToolCall("list_tables", {}, "c1")]),
        LlmReply(tool_calls=[ToolCall("get_table_stats", {"table_name": "demo"}, "c2")]),
        LlmReply(content="demo has 2 rows"),
    ]
    seen = []

    def fake_llm(messages, tools):
        seen.append(len(messages))
        return script.pop(0)

    agent = Agent(fake_llm, registry)
    answer = agent.run("how many rows in demo?")
    assert answer == "demo has 2 rows"
    roles = [m["role"] for m in agent.conversation.history()]
    assert roles.count("tool") == 2

    bad = registry.execute("nope")
    assert not bad.success and "unknown tool" in bad.error


def test_agent_streaming_loop(spark, tmp_path):
    """Streaming ReAct loop (reference agent.py:166-280): text deltas
    stream through, tool-call arguments reassemble from split deltas,
    results feed the next model round, and the final turn closes with
    a done chunk carrying the assembled answer."""
    from oracle_duckdb_sync_spark.agent.core import AgentChunk, LlmStreamEvent

    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    catalog = Catalog(spark, cfg)
    spark.createDataFrame([Row(a=1), Row(a=2)]).write.parquet(
        catalog.table_path("demo")
    )
    registry = build_default_registry(catalog)

    # turn 1: some narration + one tool call whose argument JSON arrives
    # in two deltas; turn 2: the final streamed answer
    turns = [
        [
            LlmStreamEvent("content", content="checking "),
            LlmStreamEvent("content", content="the table"),
            LlmStreamEvent(
                "tool_call_start",
                tool_call_index=0,
                tool_call_id="c1",
                tool_name="get_table_stats",
            ),
            LlmStreamEvent(
                "tool_call_delta",
                tool_call_index=0,
                tool_arguments_delta='{"table_na',
            ),
            LlmStreamEvent(
                "tool_call_delta",
                tool_call_index=0,
                tool_arguments_delta='me": "demo"}',
            ),
            LlmStreamEvent("done", finish_reason="tool_calls"),
        ],
        [
            LlmStreamEvent("content", content="demo has "),
            LlmStreamEvent("content", content="2 rows"),
            LlmStreamEvent("done", finish_reason="stop"),
        ],
    ]

    def fake_stream(messages, tools):
        yield from turns.pop(0)

    agent = Agent(lambda m, t: LlmReply(), registry, llm_stream=fake_stream)
    chunks = list(agent.run_stream("how many rows in demo?"))
    kinds = [c.type for c in chunks]
    assert kinds == [
        "text", "text",          # turn-1 narration
        "tool_status",           # call opened
        "tool_status",           # call executing
        "tool_result",
        "text", "text",          # turn-2 answer deltas
        "done",
    ]
    res = next(c for c in chunks if c.type == "tool_result")
    assert res.tool_name == "get_table_stats" and res.tool_result["success"]
    assert res.tool_result["data"]["row_count"] == 2
    assert chunks[-1].content == "demo has 2 rows"
    # conversation carries the same contract as the batch loop
    roles = [m["role"] for m in agent.conversation.history()]
    assert roles == ["system", "user", "assistant", "tool", "assistant"]
    assert isinstance(AgentChunk("done"), AgentChunk)


def test_agent_streaming_bad_arguments_and_errors(spark, tmp_path):
    """Unparseable tool-argument JSON fails that ONE call (the model
    sees an unsuccessful result next round); a client that raises
    mid-stream ends with an error chunk; an agent built without a
    streaming client refuses loudly; the iteration cap yields error."""
    from oracle_duckdb_sync_spark.agent.core import LlmStreamEvent

    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    registry = build_default_registry(Catalog(spark, cfg))

    bad_turns = [
        [
            LlmStreamEvent(
                "tool_call_start",
                tool_call_index=0,
                tool_call_id="c1",
                tool_name="list_tables",
            ),
            LlmStreamEvent(
                "tool_call_delta",
                tool_call_index=0,
                tool_arguments_delta="{not json",
            ),
            LlmStreamEvent("done", finish_reason="tool_calls"),
        ],
        [
            LlmStreamEvent("content", content="recovered"),
            LlmStreamEvent("done", finish_reason="stop"),
        ],
    ]

    def bad_stream(messages, tools):
        yield from bad_turns.pop(0)

    agent = Agent(lambda m, t: LlmReply(), registry, llm_stream=bad_stream)
    chunks = list(agent.run_stream("go"))
    res = next(c for c in chunks if c.type == "tool_result")
    assert not res.tool_result["success"]
    assert "invalid tool arguments" in res.tool_result["error"]
    assert chunks[-1].type == "done" and chunks[-1].content == "recovered"

    def raising_stream(messages, tools):
        yield LlmStreamEvent("content", content="partial")
        raise RuntimeError("socket dropped")

    agent2 = Agent(lambda m, t: LlmReply(), registry, llm_stream=raising_stream)
    chunks2 = list(agent2.run_stream("go"))
    assert [c.type for c in chunks2] == ["text", "error"]
    assert "socket dropped" in chunks2[-1].error

    agent3 = Agent(lambda m, t: LlmReply(), registry)
    with pytest.raises(ValueError, match="streaming"):
        list(agent3.run_stream("go"))

    def looping_stream(messages, tools):
        yield LlmStreamEvent(
            "tool_call_start", tool_call_index=0, tool_call_id="x",
            tool_name="list_tables",
        )
        yield LlmStreamEvent(
            "tool_call_delta", tool_call_index=0, tool_arguments_delta="{}"
        )
        yield LlmStreamEvent("done", finish_reason="tool_calls")

    agent4 = Agent(
        lambda m, t: LlmReply(), registry,
        max_iterations=2, llm_stream=looping_stream,
    )
    chunks4 = list(agent4.run_stream("go"))
    assert chunks4[-1].type == "error"
    assert "iteration limit" in chunks4[-1].error


def test_conversation_truncation():
    conv = Conversation("sys")
    for i in range(120):
        conv.add("user", f"m{i}")
    h = conv.history()
    assert len(h) == 50
    assert h[0]["role"] == "system"  # pinned
    assert h[-1]["content"] == "m119"


# -- streaming ---------------------------------------------------------------


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    return str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_stream_windowed_aggregate(spark, stream_dirs, tmp_path):
    src, out, ckpt = stream_dirs
    rows = [
        Row(id=i, ts=datetime(2024, 1, 1, 0, i % 30), v=float(i)) for i in range(60)
    ]
    static = spark.createDataFrame(rows)
    static.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, static.schema)
    agg = ST.stream_time_bucket(sdf, "ts", "10 minutes", ["v"])
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with one batch the
    # final window stays open, so expect the closed 10-minute buckets
    got = spark.read.parquet(out)
    assert "time_bucket" in got.columns and "v_avg" in got.columns


def test_stream_upsert_sink_exactly_once(spark, stream_dirs):
    src, out, ckpt = stream_dirs
    r1 = [Row(k=1, ts=datetime(2024, 1, 1, 0, 0), v=1.0),
          Row(k=2, ts=datetime(2024, 1, 1, 0, 1), v=2.0)]
    df1 = spark.createDataFrame(r1)
    df1.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, df1.schema)
    writer = ST.stream_upsert_sink(sdf, spark, out, keys=["k"], checkpoint_dir=ckpt)
    ST.run_stream_once(writer)
    assert spark.read.parquet(out).count() == 2

    # second wave: update k=2, insert k=3; rerun stream from checkpoint
    r2 = [Row(k=2, ts=datetime(2024, 1, 1, 0, 5), v=20.0),
          Row(k=3, ts=datetime(2024, 1, 1, 0, 6), v=3.0)]
    spark.createDataFrame(r2).write.mode("append").parquet(src)
    sdf2 = ST.stream_source(spark, src, df1.schema)
    writer2 = ST.stream_upsert_sink(sdf2, spark, out, keys=["k"], checkpoint_dir=ckpt)
    ST.run_stream_once(writer2)

    final = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert final == {1: 1.0, 2: 20.0, 3: 3.0}


def test_stateful_running_stats(spark, stream_dirs, tmp_path):
    src, out, ckpt = stream_dirs
    rows = [Row(k="a", ts=datetime(2024, 1, 1, 0, 0), v=1.0),
            Row(k="a", ts=datetime(2024, 1, 1, 0, 1), v=3.0),
            Row(k="b", ts=datetime(2024, 1, 1, 0, 2), v=10.0)]
    df = spark.createDataFrame(rows)
    df.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, df.schema)
    stats = ST.stateful_running_stats(sdf, "k", "v", "ts")
    captured: dict[str, dict] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            captured[r["key"]] = r.asDict()

    q = (
        stats.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = captured
    assert got["a"]["count"] == 2 and got["a"]["mean"] == 2.0
    assert got["b"]["count"] == 1 and got["b"]["mean"] == 10.0


def test_stream_sliding_windows(spark, stream_dirs):
    src, out, ckpt = stream_dirs
    rows = [
        Row(id=i, ts=datetime(2024, 1, 1, 0, i % 30), v=float(i)) for i in range(60)
    ]
    static = spark.createDataFrame(rows)
    static.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, static.schema)
    agg = ST.stream_sliding_time_bucket(sdf, "ts", "10 minutes", "5 minutes", ["v"])
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert {"window_start", "window_end", "point_count", "v_avg"} <= set(got.columns)
    # overlapping windows: every closed 5-min slide boundary appears
    starts = sorted(r["window_start"] for r in got.collect())
    if len(starts) >= 2:
        deltas = {
            int((b - a).total_seconds()) for a, b in zip(starts, starts[1:])
        }
        assert deltas <= {0, 300}


def test_stream_session_windows_close_after_gap(spark, stream_dirs):
    src, out, ckpt = stream_dirs
    # user 1: burst at 0:00-0:02, then a second burst 0:30 (closes #1);
    # watermark advances past the first session's end + gap
    rows = [
        Row(k=1, ts=datetime(2024, 1, 1, 0, 0), v=1.0),
        Row(k=1, ts=datetime(2024, 1, 1, 0, 2), v=1.0),
        Row(k=1, ts=datetime(2024, 1, 1, 0, 30), v=1.0),
        Row(k=2, ts=datetime(2024, 1, 1, 1, 30), v=1.0),
    ]
    static = spark.createDataFrame(rows)
    static.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, static.schema)
    sess = ST.stream_session_windows(sdf, "ts", "k", "5 minutes", "1 minute")
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["session_start"].minute, r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # the 0:00 burst is one 2-event session (closed by the 0:30 event +
    # watermark); later sessions may stay open in append mode
    assert (1, 0, 2) in got


def test_stream_dedup_within_watermark(spark, stream_dirs):
    """Re-delivered keys inside the watermark window are suppressed;
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    src, out, ckpt = stream_dirs
    rows = [Row(id=i % 40, ts=datetime(2024, 1, 1, 0, i % 50), v=float(i)) for i in range(100)]
    static = spark.createDataFrame(rows)
    static.write.mode("append").parquet(src)

    sdf = ST.stream_source(spark, src, static.schema)
    deduped = ST.stream_dedup_keys(sdf, ["id"], "ts")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    ids = [r["id"] for r in got.select("id").collect()]
    assert sorted(set(ids)) == sorted(ids)  # every key exactly once
    assert set(ids) == set(range(40))


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The streaming interval join must produce exactly the batch join's
    pairs once both streams drain (availableNow), and unmatched-left
    rows must appear under leftOuter."""
    click_dir = str(tmp_path / "clicks")
    buy_dir = str(tmp_path / "buys")
    t0 = datetime(2024, 1, 1, 0, 0)
    clicks = spark.createDataFrame(
        [Row(user_id=u, click_ts=t0 + timedelta(minutes=m))
         for u, m in [(1, 0), (1, 30), (2, 5), (3, 10)]]
    )
    buys = spark.createDataFrame(
        [Row(user_id=u, buy_ts=t0 + timedelta(minutes=m))
         for u, m in [(1, 10), (1, 31), (2, 90), (3, 12)]]
    )
    clicks.write.parquet(click_dir)
    buys.write.parquet(buy_dir)

    joined = ST.stream_stream_interval_join(
        ST.stream_source(spark, click_dir, clicks.schema),
        ST.stream_source(spark, buy_dir, buys.schema),
        "user_id", "click_ts", "buy_ts",
        max_delay_seconds=20 * 60,
        watermark_delay="1 minute",
    )
    out = str(tmp_path / "joined")
    q = (
        joined.select(F.col("l.user_id").alias("user_id"), "click_ts", "buy_ts")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.click_ts, r.buy_ts)
        for r in spark.read.parquet(out).collect()
    }
    # batch reference: same interval condition on static frames
    batch = clicks.alias("l").join(
        buys.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1200 SECONDS")),
    )
    want = {
        (r["user_id"], r["click_ts"], r["buy_ts"])
        for r in batch.select(F.col("l.user_id").alias("user_id"),
                              "click_ts", "buy_ts").collect()
    }
    assert got == want
    assert len(want) > 0  # the scenario actually exercises matches
    # user 2's buy at +90min falls outside the 20-minute window
    assert all(not (u == 2) for (u, _c, _b) in got)


def test_stream_dedup_ingest_crawl_loop(spark, stream_dirs, tmp_path):
    """Continuous crawl ingest: wave 1 bootstraps the store (within-
    batch near-dup closed), wave 2 is checked AGAINST the store — its
    near-dup of an already-ingested doc is rejected, its novel doc
    lands, and the store grows so a replayed wave no-ops."""
    src, out, ckpt = stream_dirs
    store = str(tmp_path / "mh_store")
    base = "the data pipeline reads events and writes clean partitioned tables"
    w1 = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("tables", "files")),  # near-dup of 1
        Row(doc_id=3, text="a completely different sentence about the spark engine optimizer"),
    ]
    df1 = spark.createDataFrame(w1)
    df1.write.mode("append").parquet(src)
    sdf = ST.stream_source(spark, src, df1.schema)
    writer = ST.stream_dedup_ingest(
        sdf, spark, out, store, ckpt, shingle_k=2, threshold=0.5
    )
    ST.run_stream_once(writer)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}, "within-batch near-dup closed at bootstrap"

    # wave 2: doc 11 duplicates stored doc 3; doc 12 is novel
    w2 = [
        Row(doc_id=11, text="a completely different sentence about the spark engine optimizer"),
        Row(doc_id=12, text="entirely novel content with many unique words in this row"),
    ]
    spark.createDataFrame(w2).write.mode("append").parquet(src)
    sdf2 = ST.stream_source(spark, src, df1.schema)
    writer2 = ST.stream_dedup_ingest(
        sdf2, spark, out, store, ckpt, shingle_k=2, threshold=0.5
    )
    ST.run_stream_once(writer2)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 3, 12}, "store rejected the cross-batch dup"

    # replay the same data against a FRESH checkpoint: every doc is in
    # the store now, so the corpus must not change (replay safety)
    sdf3 = ST.stream_source(spark, src, df1.schema)
    writer3 = ST.stream_dedup_ingest(
        sdf3, spark, out, store, str(tmp_path / "ckpt2"), shingle_k=2, threshold=0.5
    )
    ST.run_stream_once(writer3)
    got3 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got3 == {1, 3, 12}


def test_stream_substring_ingest_crawl_loop(spark, stream_dirs, tmp_path):
    """Continuous exact-substring ingest: wave 1 bootstraps the
    fingerprint store (within-batch keep-first cut), wave 2 is cut
    AGAINST the store — a passage the corpus already holds is trimmed
    out of the new doc, a doc that is ONLY the passage drops, novel
    text lands untouched, and a fresh-checkpoint replay no-ops because
    every surviving window is in the store."""
    src, out, ckpt = stream_dirs
    store = str(tmp_path / "sub_store")
    run = "p1 p2 p3 p4"
    w1 = [
        Row(doc_id=1, text=f"wave one body {run} and a tail"),
        Row(doc_id=2, text=f"other text {run} here"),  # run cut (keep-first)
        Row(doc_id=3, text="fully unique starter document"),
    ]
    df1 = spark.createDataFrame(w1)
    df1.write.mode("append").parquet(src)
    sdf = ST.stream_source(spark, src, df1.schema)
    writer = ST.stream_substring_ingest(sdf, spark, out, store, ckpt, k=4)
    ST.run_stream_once(writer)
    got1 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got1[1] == w1[0].text  # first occurrence kept whole
    assert got1[2] == "other text here"  # second occurrence trimmed
    assert got1[3] == w1[2].text

    # wave 2: 11 carries the stored run (trimmed), 12 IS the run
    # (drops), 13 leaves a sub-k survivor segment next to the cut —
    # the replay-corruption shape (its trimmed windows land in the
    # store, so a naive re-cut of the ORIGINAL text would trim it
    # differently and overwrite the good row)
    w2 = [
        Row(doc_id=11, text=f"novel wave two words {run}"),
        Row(doc_id=12, text=run),
        Row(doc_id=13, text=f"x1 x2 {run} y1 y2 y3 y4"),
    ]
    spark.createDataFrame(w2).write.mode("append").parquet(src)
    sdf2 = ST.stream_source(spark, src, df1.schema)
    writer2 = ST.stream_substring_ingest(sdf2, spark, out, store, ckpt, k=4)
    ST.run_stream_once(writer2)
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got2[11] == "novel wave two words"
    assert 12 not in got2
    assert got2[13] == "x1 x2 y1 y2 y3 y4"
    assert set(got2) == {1, 2, 3, 11, 13}

    # fresh-checkpoint replay of EVERYTHING: ingested ids are skipped
    # (the corpus is the source of truth), so no row changes — in
    # particular doc 13, whose re-cut against its own stored trimmed
    # fingerprints would otherwise shrink to 'x1 x2'
    sdf3 = ST.stream_source(spark, src, df1.schema)
    writer3 = ST.stream_substring_ingest(
        sdf3, spark, out, store, str(tmp_path / "ckpt2"), k=4
    )
    ST.run_stream_once(writer3)
    got3 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got3 == got2
    assert got3[13] == "x1 x2 y1 y2 y3 y4"  # replay did not re-trim


def test_stream_semantic_ingest_crawl_loop(spark, stream_dirs, tmp_path):
    """Continuous embedding ingest: wave 1 bootstraps the IVF index
    (within-batch paraphrase closed), wave 2 is checked AGAINST the
    index — its paraphrase of an already-ingested vector is rejected,
    its novel vector lands, and a replayed wave no-ops because every
    vector is already indexed."""
    src, out, ckpt = stream_dirs
    index = str(tmp_path / "sem_ivf")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    w1 = [
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.9, 0.1]),   # within-batch paraphrase of 1
        Row(vec_id=3, embedding=[0.1, 0.9]),
    ]
    df1 = spark.createDataFrame(w1)
    df1.write.mode("append").parquet(src)
    sdf = ST.stream_source(spark, src, df1.schema)
    writer = ST.stream_semantic_ingest(
        sdf, spark, out, index, ckpt, cents, threshold=0.99
    )
    ST.run_stream_once(writer)
    got1 = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}, "within-batch paraphrase closed at bootstrap"

    # wave 2: 11 duplicates indexed vec 3; 12 is novel
    w2 = [
        Row(vec_id=11, embedding=[0.1, 0.9]),
        Row(vec_id=12, embedding=[-0.9, 0.1]),
    ]
    spark.createDataFrame(w2).write.mode("append").parquet(src)
    sdf2 = ST.stream_source(spark, src, df1.schema)
    writer2 = ST.stream_semantic_ingest(
        sdf2, spark, out, index, ckpt, cents, threshold=0.99
    )
    ST.run_stream_once(writer2)
    got2 = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 3, 12}, "index rejected the cross-batch paraphrase"
    idx_ids = sorted(r["vec_id"] for r in spark.read.parquet(index).collect())
    assert idx_ids == [1, 3, 12], "index describes exactly the corpus"

    # replay against a FRESH checkpoint: everything already indexed
    sdf3 = ST.stream_source(spark, src, df1.schema)
    writer3 = ST.stream_semantic_ingest(
        sdf3, spark, out, index, str(tmp_path / "ckpt2"), cents, threshold=0.99
    )
    ST.run_stream_once(writer3)
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == {1, 3, 12}
    assert spark.read.parquet(index).count() == 3
