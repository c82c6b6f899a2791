"""Result-contract dataclasses (reference application layer).

Mirrors the observable contracts of:
- ``QueryServiceResult``-style dicts (application/enhanced_query_service.py:29-51)
- ``IncrementalLoadResult`` (data/incremental_loader.py:58-137 return shape)
- ``CachedQueryMetadata`` (application/query_cache_manager.py:21-48)

Including the empty-result contract: an empty query yields
``success=False, error='No data returned'`` (data/query_core.py:102-121,
SURVEY §4.3-6).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

NO_DATA_ERROR = "No data returned"


@dataclass
class QueryServiceResult:
    success: bool
    df: DataFrame | None = None
    row_count: int = 0
    is_incremental: bool = False
    conversions: dict[str, str] = field(default_factory=dict)
    suggestions: dict[str, str] = field(default_factory=dict)
    error: str | None = None
    interval: str | None = None
    numeric_cols: list[str] = field(default_factory=list)


@dataclass
class IncrementalLoadResult:
    success: bool
    df: DataFrame | None = None
    row_count: int = 0
    max_timestamp: Any = None
    is_initial: bool = False
    error: str | None = None


@dataclass
class CachedQueryMetadata:
    last_timestamp: Any = None
    row_count: int = 0
    last_update: float = 0.0
    selected_conversions: dict[str, str] = field(default_factory=dict)
    query_params: dict[str, Any] = field(default_factory=dict)
    # Catalog.version of the table as of the last unlimited fetch; None
    # means "unknown", and the next read probes for new rows
    table_version: int | None = None
