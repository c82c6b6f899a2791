"""Incremental loader (reference H1, data/incremental_loader.py:58-244).

``fetch_incremental(table, time_col, last_ts, limit)``: rows with
``tc > last_ts`` plus the batch's max timestamp; ``last_ts=None`` means
initial load. Merge/dedup helpers live in operators/merge.py (F1-F2).

Spark shape: the watermark predicate is one filter pushed to the scan
(Parquet row-group pruning / JDBC WHERE), and the delta is locally
checkpointed in one pass. Its row count and max(tc) are observed on that
same pass (``Dataset.observe``), so no second job reads the checkpoint.
The checkpoint is a snapshot: a result built on it never re-reads the
live table, so a cache of it cannot pick up rows appended after the read
(Spark drops and lazily rebuilds every cached plan over a path it
appends to). The delta comes back sorted by ``tc``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
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
        seen = Observation()
        delta: DataFrame = (
            watermark_read(
                df, self.time_col, last_timestamp, limit=limit, tiebreaker=tiebreaker
            )
            .observe(seen, F.count(F.lit(1)).alias("n"), F.max(self.time_col).alias("top"))
            .localCheckpoint()
        )
        observed = seen.get
        row_count, max_ts = observed["n"], observed["top"]
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
