"""The sync half of the batch workload: the Oracle→warehouse sync as an
operator runs it.

A round is one cycle over a fresh warehouse: one ``SyncEngine.full_sync``
of a seeded events source, then incremental syncs through
``SyncService`` (lock, worker thread, ``sync_logs`` audit row), each
after a seeded delta arrives at the source, then seeded changed-row
batches upserted through ``sinks.upsert`` into the synced table and into
a day-partitioned copy, then ``SyncLogRepository.stats()`` and
``recent()``.

Each round also attempts one full sync of a fixed source whose
timestamps Spark reads as TIMESTAMP_NTZ. It fails on every attempt (the
watermark collector applies ``unix_micros`` to a TIMESTAMP_NTZ column),
so it is counted as attempted and failed and its time is in no metric.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import pandas as pd

from . import checks, inputs
from .layers import median, span_metrics, units

N_BASE = 50_000
DELTAS = 3
DELTA_ROWS = 5_000
UPSERTS = 1  # per layout
UPSERT_FRAC = 0.05
UPSERT_NEW = 250  # unseen keys per batch
SYNCED, DAILY, NTZ = "events_sync", "events_day", "events_ntz"
LAYERS = [
    ("engine.full_sync", "s"), ("service.incremental", "s"),
    ("sinks.upsert", "s"), ("sinks.upsert_part", "s"),
]
SPARK_SPANS = ["service.incremental", "sinks.upsert", "sinks.upsert_part"]
LAYER_UNITS = units(LAYERS, SPARK_SPANS, [
    ("engine.incremental_s", "s"), ("engine.incremental_jobs", "count"),
    ("service.overhead_s", "s"),
    ("engine.attempts_per_sync", "ratio"),
    ("sinks.rewrite_bytes_per_row", "B/row"), ("sinks.rewrite_part_bytes_per_row", "B/row"),
    ("meta.stats_ms", "ms"), ("meta.recent_ms", "ms"),
])
COLS = "event_id, epoch_us(ts), user_id, event_type, value"


def _files(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _data_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@contextmanager
def _engine_span(rec):
    """A span around the engine's incremental sync, which the service
    calls on its worker thread: it tells the engine's jobs from the
    audit rows' jobs."""
    from oracle_duckdb_sync_spark.sync.engine import SyncEngine

    inner = SyncEngine.incremental_sync

    def incremental_sync(engine, *args, **kwargs):
        with rec.span("engine.incremental"):
            return inner(engine, *args, **kwargs)
    SyncEngine.incremental_sync = incremental_sync
    try:
        yield
    finally:
        SyncEngine.incremental_sync = inner


def _rows(pdf: pd.DataFrame) -> dict:
    us = (pdf["ts"].dt.tz_convert(None) - pd.Timestamp("1970-01-01")) // pd.Timedelta(microseconds=1)
    return dict(zip(pdf["event_id"].tolist(),
                    zip(us.tolist(), pdf["user_id"].tolist(), pdf["event_type"].tolist(),
                        pdf["value"].tolist())))


class SyncCycle:
    def __init__(self, run):
        from oracle_duckdb_sync_spark.config import EngineConfig

        self.run = run
        self.spark = run.spark
        self.work = os.path.join(run.work, "sync")
        self.cfg = EngineConfig(warehouse_dir=os.path.join(self.work, "warehouse"),
                                state_dir=os.path.join(self.work, "state"))
        self.src = os.path.join(self.work, "source")
        self.inbox = os.path.join(self.work, "deltas")
        self.ntz = os.path.join(self.work, "ntz", "events.parquet")
        self.daily_base = os.path.join(self.work, "daily")
        self.engine_s: list[float] = []
        self.service_s: list[float] = []
        self.attempts = self.successes = 0
        self.rewrite: dict[str, list[float]] = {"sinks.upsert": [], "sinks.upsert_part": []}
        self.rows_written = 0
        self.cycle_s = 0.0

    # -- inputs ----------------------------------------------------------
    def stage(self) -> None:
        rng = self.run.rng(0, 0)
        for d in (self.src, self.inbox, os.path.dirname(self.ntz), self.daily_base):
            shutil.rmtree(d, ignore_errors=True)
        self.base = inputs.with_day(inputs.events(rng, N_BASE))
        inputs.write_table(self.base, self.src)
        inputs.write_partitioned(self.base, self.daily_base, "day")
        self.deltas = []
        t = int(self.base["ts"].max().value // 1000)
        for k in range(DELTAS):
            d = inputs.with_day(inputs.events(rng, DELTA_ROWS, start_id=N_BASE + k * DELTA_ROWS,
                                              t_lo_us=t + 1_000_000, t_hi_us=t + inputs.DAY_US))
            t = int(d["ts"].max().value // 1000)
            inputs.write_table(d, os.path.join(self.inbox, str(k)), files=1)
            self.deltas.append(d)
        next_id = N_BASE + DELTAS * DELTA_ROWS
        self.batches = []
        for _ in range(2 * UPSERTS):
            self.batches.append(
                inputs.changed_rows(rng, self.base, UPSERT_FRAC, UPSERT_NEW, next_id))
            next_id += UPSERT_NEW
        os.makedirs(os.path.dirname(self.ntz))
        inputs.ntz_events(self.ntz)

    def reset(self) -> None:
        """Forget what earlier rounds measured."""
        self.engine_s.clear()
        self.service_s.clear()
        self.attempts = self.successes = 0
        for v in self.rewrite.values():
            v.clear()
        self.rows_written, self.cycle_s = 0, 0.0

    def _fresh_warehouse(self) -> None:
        """A fresh warehouse, state and audit log; the source back to its
        base rows."""
        for k in range(DELTAS):
            moved = os.path.join(self.src, f"delta-{k}.snappy.parquet")
            if os.path.exists(moved):
                os.rename(moved, os.path.join(self.inbox, str(k), "part-00000.snappy.parquet"))
        for d in (self.cfg.warehouse_dir, self.cfg.state_dir, os.path.join(self.work, "meta")):
            shutil.rmtree(d, ignore_errors=True)

    def _arrive(self, k: int) -> None:
        os.rename(os.path.join(self.inbox, str(k), "part-00000.snappy.parquet"),
                  os.path.join(self.src, f"delta-{k}.snappy.parquet"))

    # -- one round -------------------------------------------------------
    def round(self, i: int) -> None:
        from oracle_duckdb_sync_spark.meta.repos import SyncLogRepository
        from oracle_duckdb_sync_spark.sources import sinks
        from oracle_duckdb_sync_spark.sources.catalog import Catalog
        from oracle_duckdb_sync_spark.sources.state import SyncStateStore
        from oracle_duckdb_sync_spark.sync.engine import ParquetSyncSource, SyncEngine
        from oracle_duckdb_sync_spark.sync.service import SyncService

        self._fresh_warehouse()
        run = self.run
        t_cycle, oracle_s = time.perf_counter(), run.oracle_s
        catalog = Catalog(self.spark, self.cfg)
        state = SyncStateStore(self.cfg.state_dir)
        logs = SyncLogRepository(self.spark, os.path.join(self.work, "meta"))
        engine = SyncEngine(self.spark, catalog, state, self.cfg)
        service = SyncService(self.spark, catalog, state, self.cfg, sync_logs=logs)
        source = ParquetSyncSource(self.src)
        synced = catalog.table_path(SYNCED)

        # full load
        res = run.op("engine.full_sync", lambda: engine.full_sync(source, SYNCED, time_column="ts"))
        self._account(res, N_BASE)
        run.check(res.success and res.rows == N_BASE,
                  f"full_sync: {res.success} {res.rows} rows")
        self._check_target(synced, state.load_state(SYNCED))

        # service-driven incrementals, each after a delta arrives
        for k in range(DELTAS):
            self._arrive(k)

            def incremental():
                worker = service.start_sync(source, SYNCED, time_column="ts")
                return service.wait(), worker.result
            with _engine_span(run.rec):
                status, res = run.op("service.incremental", incremental, threaded=True)
            run.check(status["state"] == "completed" and res is not None and res.success
                      and res.rows == DELTA_ROWS, f"incremental {k}: {status}")
            if res is not None:
                self._account(res, DELTA_ROWS)
                self.engine_s.append(res.elapsed_seconds)
                self.service_s.append(run.samples["service.incremental"][-1])
            self._check_target(synced, state.load_state(SYNCED))
            audit = run.q("SELECT status, count(*) FROM "
                          f"{_files(logs.path)} GROUP BY status ORDER BY status")
            run.check(audit == [("completed", k + 1)], f"sync_logs after incremental {k}: {audit}")

        # upserts: unpartitioned into the synced table, day-partitioned
        # into a copy of the base rows
        daily = catalog.table_path(DAILY)
        shutil.copytree(self.daily_base, daily)
        want = {SYNCED: _rows(pd.concat([self.base, *self.deltas])), DAILY: _rows(self.base)}
        for j, batch in enumerate(self.batches):
            span, table, path = (("sinks.upsert", SYNCED, synced) if j % 2 == 0 else
                                 ("sinks.upsert_part", DAILY, daily))
            df = self.spark.createDataFrame(batch)
            before = _data_bytes(path)
            run.op(span, lambda: sinks.upsert(
                self.spark, df, path, ["event_id"],
                partition_cols=["day"] if table == DAILY else None))
            self.rows_written += len(batch)
            after = _data_bytes(path)
            rewritten = sum(b for p, b in after.items() if p not in before)
            self.rewrite[span].append(rewritten / len(batch))
            want[table].update(_rows(batch))
        for table, path in ((SYNCED, synced), (DAILY, daily)):
            got = {r[0]: tuple(r[1:]) for r in run.q(f"SELECT {COLS} FROM {_files(path)}")}
            for p in checks.keyed_values(got, want[table], f"{table} after upserts"):
                run.check(False, p)

        # audit reads
        stats = run.op("meta.stats", logs.stats)
        recent = run.op("meta.recent", lambda: logs.recent(10))
        run.check(stats["total_count"] == DELTAS and stats["completed_count"] == DELTAS
                  and stats["sum_total_rows"] == DELTAS * DELTA_ROWS,
                  f"sync_logs stats {stats}")
        run.check(len(recent) == DELTAS and all(r["status"] == "completed" for r in recent),
                  f"sync_logs recent: {len(recent)} rows")
        # the cycle's wall time, less the oracle's queries
        self.cycle_s += time.perf_counter() - t_cycle - (run.oracle_s - oracle_s)

        # the known fault: a TIMESTAMP_NTZ source, timed in no metric
        res = run.op("engine.full_sync_ntz", lambda: engine.full_sync(
            ParquetSyncSource(self.ntz), NTZ, time_column="ts"), timed=False)
        self.attempts += res.attempts
        if res.success:
            self.successes += 1
            want_wm = run.q(f"SELECT epoch_us(max(ts)) FROM read_parquet('{self.ntz}')")[0][0]
            run.check(res.new_watermark == want_wm,
                      f"NTZ full_sync watermark {res.new_watermark} != {want_wm}")
        else:
            run.fail()

    def _account(self, res, rows: int) -> None:
        self.attempts += res.attempts
        self.successes += bool(res.success)
        self.rows_written += rows

    def _check_target(self, path: str, wm) -> None:
        """Target rows = source rows up to the saved watermark."""
        got = self.run.q(f"SELECT count(*), count(DISTINCT event_id) FROM {_files(path)}")[0]
        want = self.run.q(f"SELECT count(*) FROM {_files(self.src)} WHERE epoch_us(ts) <= ?",
                          wm)[0][0]
        self.run.check(got[0] == got[1] == want, f"{path}: {got} rows, source up to {wm}: {want}")

    # -- metrics ---------------------------------------------------------
    def named_metrics(self) -> dict:
        s = self.run.samples
        return {
            "sync.incremental_s": {"value": median(s["service.incremental"]), "unit": "s"},
            "sync.upsert_s": {"value": median(s["sinks.upsert"] + s["sinks.upsert_part"]),
                              "unit": "s"},
            "sync.rows_per_s": {"value": self.rows_written / self.cycle_s, "unit": "rows/s"},
        }

    def layer_metrics(self, rec) -> dict:
        out = {}
        for name, unit in LAYERS:
            out.update(span_metrics(rec, name, unit, spark=name in SPARK_SPANS))
        # the engine's own time, as SyncResult reports it, and its jobs
        out["engine.incremental_s"] = {"value": median(self.engine_s), "unit": "s"}
        out["engine.incremental_jobs"] = span_metrics(
            rec, "engine.incremental", "s")["engine.incremental_jobs"]
        out["service.overhead_s"] = {
            "value": median([w - e for w, e in zip(self.service_s, self.engine_s)]), "unit": "s"}
        out["engine.attempts_per_sync"] = {"value": self.attempts / max(self.successes, 1),
                                           "unit": "ratio"}
        out["sinks.rewrite_bytes_per_row"] = {"value": median(self.rewrite["sinks.upsert"]),
                                              "unit": "B/row"}
        out["sinks.rewrite_part_bytes_per_row"] = {
            "value": median(self.rewrite["sinks.upsert_part"]), "unit": "B/row"}
        for name in ("stats", "recent"):
            out[f"meta.{name}_ms"] = span_metrics(rec, f"meta.{name}", "ms")[f"meta.{name}_ms"]
        return out
