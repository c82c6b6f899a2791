"""Incremental loader (reference H1, data/incremental_loader.py:58-244).

``fetch_incremental(table, time_col, last_ts, limit)``: rows with
``tc > last_ts`` plus the batch's max timestamp; ``last_ts=None`` means
initial load. Merge/dedup helpers live in operators/merge.py (F1-F2).

Spark shape: the watermark predicate is one filter pushed to the scan
(Parquet row-group pruning / JDBC WHERE), and the count + max(tc) +
result rows come from one locally checkpointed delta. The checkpoint
is a snapshot: a result built on it never re-reads the live table, so
a cache of it cannot pick up rows appended after the read (Spark drops
and lazily rebuilds every cached plan over a path it appends to).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.contracts import NO_DATA_ERROR, IncrementalLoadResult
from .query import watermark_read


class IncrementalLoader:
    def __init__(self, df_provider, time_col: str):
        """``df_provider``: zero-arg callable returning the source
        DataFrame (a fresh scan each call, so new files are visible)."""
        self.df_provider = df_provider
        self.time_col = time_col

    def fetch_incremental(
        self,
        last_timestamp: Any | None = None,
        limit: int | None = None,
        tiebreaker: str | None = None,
    ) -> IncrementalLoadResult:
        df = self.df_provider()
        delta: DataFrame = watermark_read(
            df, self.time_col, last_timestamp, limit=limit, tiebreaker=tiebreaker
        ).localCheckpoint()
        row_count, max_ts = delta.agg(F.count(F.lit(1)), F.max(self.time_col)).first()
        if row_count == 0:
            return IncrementalLoadResult(
                success=False,
                df=None,
                row_count=0,
                is_initial=last_timestamp is None,
                error=NO_DATA_ERROR,
            )
        return IncrementalLoadResult(
            success=True,
            df=delta,
            row_count=row_count,
            max_timestamp=max_ts,
            is_initial=last_timestamp is None,
        )
