"""Sync engine: full / test / incremental pipelines (reference H2-H5).

Reference flow (database/sync_engine.py):
- ``full_sync``  (:102-133): derive schema → CREATE TABLE → batched
  fetch → insert/upsert loop with timeout + max-iteration guards (:245-319)
- ``test_sync``  (:164-172 + 417-490): row-limited variant, pk-less table
- ``incremental_sync`` (:180-235): watermark query → INSERT-only →
  ``SELECT MAX(tc)`` → save state (only on success) with 3×0.1s retries

Spark-first restructuring: the hand-rolled batch pump disappears — a
single ``df.write`` moves all rows through the executors in parallel
(Spark tasks are the batches; task retries cover executor failure). What
remains driver-side is exactly what the reference keeps driver-side:
watermark commit ordering (write data → then state), retries around the
whole attempt, wall-clock guard, and progress/rate reporting.

Sources are pluggable via the ``SyncSource`` protocol so tests use a
Parquet-backed stand-in where production uses the JDBC reader
(sources/jdbc.py) — same engine code path either way.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..errors import SyncError
from ..operators.query import (
    count_and_watermark,
    observe_count_and_watermark,
    watermark_literal,
)
from ..sources import sinks
from ..sources.catalog import Catalog
from ..sources.state import SyncStateStore


class SyncSource(Protocol):
    """Minimal source contract: full read + watermark-filtered read."""

    def read_full(self, spark: SparkSession) -> DataFrame: ...

    def read_incremental(
        self, spark: SparkSession, time_col: str, last_value: Any | None
    ) -> DataFrame: ...


class ParquetSyncSource:
    """Parquet-backed stand-in for the Oracle source (test/demo path)."""

    def __init__(self, path: str):
        self.path = path

    def read_full(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def read_incremental(self, spark, time_col, last_value):
        df = self.read_full(spark)
        if last_value is not None:
            df = df.filter(F.col(time_col) > watermark_literal(df, time_col, last_value))
        return df


@dataclass
class SyncResult:
    success: bool
    table: str
    sync_type: str
    rows: int = 0
    elapsed_seconds: float = 0.0
    rows_per_second: float = 0.0
    new_watermark: Any = None
    error: str | None = None
    attempts: int = 1


@dataclass
class SyncEngine:
    spark: SparkSession
    catalog: Catalog
    state: SyncStateStore
    config: EngineConfig = field(default_factory=EngineConfig)
    progress_callback: Callable[[dict], None] | None = None

    def _progress(self, **kw) -> None:
        if self.progress_callback:
            self.progress_callback(kw)

    def _timed_write(self, table: str, write_fn: Callable[[], int], sync_type: str) -> SyncResult:
        """Run one write attempt under the retry + wall-clock policy
        (database/sync_engine.py:203-235,271-289)."""
        last_err: Exception | None = None
        start = time.monotonic()
        for attempt in range(1, self.config.sync_retry_attempts + 1):
            if time.monotonic() - start > self.config.sync_max_duration_seconds:
                break
            try:
                rows = write_fn()
                elapsed = time.monotonic() - start
                rate = rows / elapsed if elapsed > 0 else 0.0
                self._progress(table=table, rows=rows, elapsed=elapsed, rate=rate, done=True)
                return SyncResult(
                    True, table, sync_type, rows, elapsed, rate, attempts=attempt
                )
            except Exception as e:  # noqa: BLE001 — retry any write failure
                last_err = e
                self._progress(table=table, error=str(e), attempt=attempt, done=False)
                time.sleep(self.config.sync_retry_delay_seconds)
        elapsed = time.monotonic() - start
        return SyncResult(
            False,
            table,
            sync_type,
            0,
            elapsed,
            error=str(last_err) if last_err else "timeout",
            attempts=self.config.sync_retry_attempts,
        )

    # -- pipelines ---------------------------------------------------------
    def full_sync(
        self,
        source: SyncSource,
        table: str,
        primary_key: str | None = None,
        time_column: str | None = None,
        partition_cols: Sequence[str] | None = None,
    ) -> SyncResult:
        """Full load: overwrite (or upsert when a pk exists and the table
        does too). Commits the watermark from MAX(time_column) so a later
        incremental continues from the right place. ``partition_cols``
        lays the table out hive-partitioned so later upserts rewrite only
        the partitions a batch touches (sinks.upsert partition-scoped
        path)."""
        try:
            df = source.read_full(self.spark)
        except Exception as e:  # noqa: BLE001 — source/plan failure
            return SyncResult(False, table, "full", error=str(e))
        path = self.catalog.table_path(table)

        wm_holder: dict[str, Any] = {}

        def write() -> int:
            # count and watermark must describe exactly the rows written:
            # on a live source, rows arriving between the write scan and
            # a later MAX scan would push the committed watermark past
            # data never written — permanently skipped by every later
            # incremental.
            if primary_key and self.catalog.table_exists(table):
                # upsert scans its batch more than once: persist so the
                # aggregate and every scan share one source snapshot
                df.persist()
                try:
                    n, wm_holder["wm"] = count_and_watermark(df, time_column)
                    sinks.upsert(
                        self.spark, df, path, [primary_key], partition_cols=partition_cols
                    )
                    return n
                finally:
                    df.unpersist()
            # the overwrite scans the source once: observe both on it
            observed, counted = observe_count_and_watermark(df, time_column)
            sinks.overwrite(observed, path, partition_cols=partition_cols)
            n, wm_holder["wm"] = counted()
            return n

        result = self._timed_write(table, write, "full")
        if result.success and time_column:
            wm = wm_holder.get("wm")
            if wm is not None:
                self.state.save_state(table, wm)
                result.new_watermark = wm
        return result

    def test_sync(self, source: SyncSource, table: str, row_limit: int | None = None) -> SyncResult:
        """Row-limited load into a pk-less table (H5). LIMIT is applied in
        the plan — only ``row_limit`` rows cross the cluster."""
        limit = row_limit or self.config.test_sync_default_row_limit
        try:
            df = source.read_full(self.spark).limit(limit)
        except Exception as e:  # noqa: BLE001
            return SyncResult(False, table, "test", error=str(e))
        path = self.catalog.table_path(table)

        def write() -> int:
            # the row count comes from the write's own pass
            observed, counted = observe_count_and_watermark(df, None)
            sinks.overwrite(observed, path)
            return counted()[0]

        return self._timed_write(table, write, "test")

    def incremental_sync(
        self,
        source: SyncSource,
        table: str,
        time_column: str,
        last_value: Any | None = None,
        default_start: Any | None = None,
    ) -> SyncResult:
        """Watermark incremental: INSERT-only append of rows with
        ``tc > watermark``; state commits ONLY after the append succeeds
        (exactly the reference's ordering, database/sync_engine.py:205-235).
        On failure the previous watermark stands, so a retry re-reads the
        same delta — at-least-once with idempotent repair via dedup (F2).
        """
        wm = last_value if last_value is not None else (self.state.load_state(table) or default_start)
        try:
            delta = source.read_incremental(self.spark, time_column, wm)
        except Exception as e:  # noqa: BLE001
            return SyncResult(False, table, "incremental", error=str(e))
        path = self.catalog.table_path(table)
        checkpoint = self.state.create_state_checkpoint()

        new_wm_holder: dict[str, Any] = {}

        def write() -> int:
            # an empty append would still write a part file into the
            # table: probe first, then take count and watermark on the
            # append's own pass, so they describe exactly the rows it wrote
            if delta.isEmpty():
                return 0
            observed, counted = observe_count_and_watermark(delta, time_column)
            sinks.append(observed, path)
            n, wm = counted()
            if n > 0:
                new_wm_holder["wm"] = wm
            return n

        result = self._timed_write(table, write, "incremental")
        if result.success and "wm" in new_wm_holder:
            try:
                self.state.save_state(table, new_wm_holder["wm"])
                result.new_watermark = new_wm_holder["wm"]
            except Exception as e:  # state write failed → roll back (H12)
                self.state.rollback_state(checkpoint)
                raise SyncError(f"state commit failed for {table}") from e
        return result
