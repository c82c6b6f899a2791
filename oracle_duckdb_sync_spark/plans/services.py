"""Query services — the reference's application layer, Spark-first.

- :class:`QueryService.query_table_aggregated` — the interactive
  aggregated query (entry point §3.2: sample → detect numeric cols →
  time-bucket aggregate → contract dict)
  (application/query_service.py:155-357)
- :class:`EnhancedQueryService.query_with_caching` — cached incremental
  read path (entry point §3.3): cache probe → initial or delta fetch →
  type conversion reapplication → merge → re-cache; stale-serve on error
  (application/enhanced_query_service.py:89-418)

The reference answers each action with one DuckDB query; Spark pays a
per-job floor instead, so every read here runs each Spark pass once:

- A bounded result (``query_table``'s ≤ ``limit`` rows, one row per
  time bucket) is collected once with ``toArrow``. Its row count is the
  collected length, and the caller gets a driver-local relation over
  those rows with the plan's own schema (TIMESTAMP stays TIMESTAMP,
  TIMESTAMP_NTZ stays TIMESTAMP_NTZ), so rendering it runs no scan.
- A cached entry records the table's :meth:`Catalog.version`. A repeat
  read of an unchanged table serves the cache without a job. The
  version is read before the fetch, so rows that land during a fetch
  are probed next time, and it is recorded only after an unlimited
  fetch: a ``limit``-ed initial load keeps probing, and its repeat pulls
  in the rows past the limit. An unknown version (None) always probes.
- A delta holds only rows after the cached max (the watermark is
  exclusive), and both sides come back time-sorted, so the merge is a
  plain union that keeps the cached order; the cache is never re-sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..functions import inference as inf
from ..operators.aggregate import numeric_columns, time_bucket_agg
from ..operators.incremental import IncrementalLoader
from ..operators.merge import merge_incremental
from .cache import QueryCacheManager
from .contracts import NO_DATA_ERROR, CachedQueryMetadata, QueryServiceResult


def _collect_once(df: DataFrame) -> tuple[DataFrame, int]:
    """Run a bounded plan once: its rows as a driver-local relation with
    the plan's schema, and their number."""
    rows = df.toArrow()
    return df.sparkSession.createDataFrame(rows, schema=df.schema), rows.num_rows


class QueryService:
    """Aggregated-query hot path over catalog tables."""

    def __init__(self, catalog, config: EngineConfig | None = None):
        self.catalog = catalog
        self.config = config or EngineConfig()

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def get_table_row_count(self, table: str) -> int:
        return self.catalog.row_count(table)

    def query_table(self, table: str, limit: int | None = None) -> QueryServiceResult:
        """Limited detail read (B1 with the default 100-row cap)."""
        limit = limit if limit is not None else self.config.default_query_limit
        df, n = _collect_once(self.catalog.table(table).limit(limit))
        if n == 0:
            return QueryServiceResult(False, error=NO_DATA_ERROR)
        return QueryServiceResult(True, df=df, row_count=n)

    def query_table_aggregated(
        self,
        table: str,
        time_column: str,
        interval: str | None = None,
        value_columns: list[str] | None = None,
        compact_strings: bool | None = None,
    ) -> QueryServiceResult:
        """§3.2 flow: detect numeric columns (native dtype first, else
        sampled VARCHAR vote), then the D1/D2 time-bucket aggregate."""
        interval = interval or self.config.default_aggregation_interval
        df = self.catalog.table(table)

        if compact_strings is None:
            # compact-string mode iff the time column itself is a string
            compact_strings = dict(df.dtypes).get(time_column) == "string"

        if value_columns is None:
            # Per-column decision (application/query_service.py:260-279):
            # native numeric dtypes pass directly; string columns go
            # through the sampled VARCHAR vote. Both kinds aggregate —
            # time_bucket_agg TRY_CASTs string value columns itself.
            native = numeric_columns(df, exclude=[time_column])
            suggestions = inf.detect_convertible_columns(
                df, self.config.type_threshold, self.config.type_sample_size
            )
            voted = [
                c for c, kind in suggestions.items()
                if kind == inf.NUMERIC and c != time_column
            ]
            value_columns = native + voted
        if not value_columns:
            return QueryServiceResult(
                False, error="No numeric columns found", interval=interval
            )

        out, n = _collect_once(time_bucket_agg(
            df, time_column, interval,
            value_cols=value_columns, compact_strings=compact_strings,
        ))
        if n == 0:
            return QueryServiceResult(False, error=NO_DATA_ERROR, interval=interval)
        return QueryServiceResult(
            True, df=out, row_count=n, interval=interval, numeric_cols=value_columns
        )


class EnhancedQueryService:
    """Cached incremental read path (§3.3) with stale-serve-on-error."""

    def __init__(self, catalog, config: EngineConfig | None = None,
                 cache: QueryCacheManager | None = None):
        self.catalog = catalog
        self.config = config or EngineConfig()
        self.cache = cache or QueryCacheManager()

    def _loader(self, table: str, time_column: str) -> IncrementalLoader:
        return IncrementalLoader(lambda: self.catalog.table(table), time_column)

    def query_with_caching(
        self,
        table: str,
        time_column: str,
        limit: int | None = None,
        conversions: dict[str, str] | None = None,
    ) -> QueryServiceResult:
        loader = self._loader(table, time_column)
        meta = self.cache.get_metadata(table) if self.cache.has_cache(table) else None

        try:
            version = self.catalog.version(table)
            if meta is None:
                return self._initial_load(table, loader, limit, conversions, version)
            if version is not None and version == meta.table_version:
                return self._cached_result(table, meta)
            return self._incremental_load(table, loader, meta, version)
        except Exception as e:  # stale-serve-on-error (:401-418)
            cached = self.cache.get_data(table)
            if cached is not None:
                return QueryServiceResult(
                    False, df=cached,
                    row_count=(meta.row_count if meta else 0),
                    error=str(e),
                )
            return QueryServiceResult(False, error=str(e))

    def _apply_conversions(self, df: DataFrame, conversions: dict[str, str] | None):
        # an empty decision is a decision: a delta is never voted on its own
        if conversions is not None:
            return inf.convert_selected_columns(df, conversions), dict(conversions)
        converted, report = inf.detect_and_convert_types(
            df, self.config.type_threshold, self.config.type_sample_size
        )
        return converted, report.decisions

    def _cached_result(self, table, meta: CachedQueryMetadata) -> QueryServiceResult:
        return QueryServiceResult(
            True, df=self.cache.get_data(table), row_count=meta.row_count,
            is_incremental=True, conversions=meta.selected_conversions,
        )

    def _initial_load(self, table, loader, limit, conversions, version) -> QueryServiceResult:
        res = loader.fetch_incremental(None, limit=limit)
        if not res.success:
            return QueryServiceResult(False, error=res.error)
        converted, applied = self._apply_conversions(res.df, conversions)
        self.cache.set_data(
            table, converted,
            CachedQueryMetadata(
                last_timestamp=res.max_timestamp,
                row_count=res.row_count,
                selected_conversions=applied,
                table_version=version if limit is None else None,
            ),
        )
        return QueryServiceResult(
            True, df=converted, row_count=res.row_count, conversions=applied
        )

    def _incremental_load(
        self, table, loader, meta: CachedQueryMetadata, version
    ) -> QueryServiceResult:
        res = loader.fetch_incremental(meta.last_timestamp)  # no limit (:305-418)
        if not res.success:
            # 0 new rows → serve cache unchanged
            self.cache.update_metadata(table, table_version=version)
            return self._cached_result(table, meta)
        delta_converted, _ = self._apply_conversions(res.df, meta.selected_conversions)
        merged = merge_incremental(
            self.cache.get_data(table), delta_converted, time_col=loader.time_col,
            sort=False,
        )
        new_count = meta.row_count + res.row_count
        self.cache.set_data(
            table, merged,
            CachedQueryMetadata(
                last_timestamp=res.max_timestamp,
                row_count=new_count,
                selected_conversions=meta.selected_conversions,
                table_version=version,
            ),
        )
        return QueryServiceResult(
            True, df=merged, row_count=new_count, is_incremental=True,
            conversions=meta.selected_conversions,
        )
