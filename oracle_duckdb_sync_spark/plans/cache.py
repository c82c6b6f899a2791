"""Query-result caching (reference K1-K3).

- K1 ``CacheProvider`` ABC with get/set/delete/clear/has + a
  ``cached_function`` decorator with md5 long-key hashing
  (application/cache_provider.py:13-181)
- K2 ``QueryCacheManager``: data + metadata keys, hit/miss stats, TTL,
  staleness invalidation (application/query_cache_manager.py:51-373)

Spark mapping: cached "data" entries are DataFrames pinned with
``persist(MEMORY_AND_DISK)`` — the plan stays lazy, the blocks live on
executors, and ``unpersist`` releases them. Metadata stays in a plain
driver dict (it's tiny). The observable contract (stats, TTL, staleness)
is unchanged from the reference.
"""

from __future__ import annotations

import hashlib
import time
from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .contracts import CachedQueryMetadata

MAX_KEY_LENGTH = 200


class CacheProvider(ABC):
    """K1 framework-agnostic cache interface."""

    @abstractmethod
    def get(self, key: str) -> Any: ...

    @abstractmethod
    def set(self, key: str, value: Any) -> None: ...

    @abstractmethod
    def delete(self, key: str) -> None: ...

    @abstractmethod
    def clear(self) -> None: ...

    @abstractmethod
    def has(self, key: str) -> bool: ...

    @staticmethod
    def hash_key(key: str) -> str:
        """md5-hash over-long keys (application/cache_provider.py:150-181)."""
        if len(key) <= MAX_KEY_LENGTH:
            return key
        return hashlib.md5(key.encode("utf-8")).hexdigest()

    def cached_function(self, prefix: str):
        """Decorator: memoize a function through this provider."""

        def deco(fn):
            def wrapper(*args, **kwargs):
                key = self.hash_key(f"{prefix}:{args!r}:{sorted(kwargs.items())!r}")
                if self.has(key):
                    return self.get(key)
                value = fn(*args, **kwargs)
                self.set(key, value)
                return value

            return wrapper

        return deco


class MemoryCacheProvider(CacheProvider):
    """Driver-dict provider; DataFrame values are persisted on set and
    unpersisted on delete/clear so executor memory is released.

    A DataFrame that ``set`` supersedes stays persisted until its key is
    deleted or the cache cleared: the new value's plan may read it (a
    delta merged onto the cached rows does) until that value is
    materialised, and unpersisting it early would recompute its source."""

    def __init__(self, storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
        self._store: dict[str, Any] = {}
        self._superseded: dict[str, list[DataFrame]] = {}
        self.storage_level = storage_level

    def get(self, key: str) -> Any:
        return self._store.get(self.hash_key(key))

    def set(self, key: str, value: Any) -> None:
        key = self.hash_key(key)
        old = self._store.get(key)
        if isinstance(old, DataFrame) and old is not value:
            self._superseded.setdefault(key, []).append(old)
        if isinstance(value, DataFrame):
            value.persist(self.storage_level)
        self._store[key] = value

    def delete(self, key: str) -> None:
        key = self.hash_key(key)
        for v in [self._store.pop(key, None), *self._superseded.pop(key, [])]:
            if isinstance(v, DataFrame):
                v.unpersist()

    def clear(self) -> None:
        for key in list(self._store):
            self.delete(key)

    def has(self, key: str) -> bool:
        return self.hash_key(key) in self._store


class QueryCacheManager:
    """K2: per-table data + metadata entries with stats and TTL."""

    DATA_PREFIX = "query_data_"
    META_PREFIX = "query_metadata_"

    def __init__(self, provider: CacheProvider | None = None):
        self.provider = provider or MemoryCacheProvider()
        self.hits = 0
        self.misses = 0

    # -- data --------------------------------------------------------------
    def get_data(self, table: str) -> DataFrame | None:
        key = f"{self.DATA_PREFIX}{table}"
        if self.provider.has(key):
            self.hits += 1
            return self.provider.get(key)
        self.misses += 1
        return None

    def set_data(self, table: str, df: DataFrame, metadata: CachedQueryMetadata) -> None:
        metadata.last_update = time.time()
        self.provider.set(f"{self.DATA_PREFIX}{table}", df)
        self.provider.set(f"{self.META_PREFIX}{table}", metadata)

    def has_cache(self, table: str) -> bool:
        return self.provider.has(f"{self.DATA_PREFIX}{table}")

    # -- metadata ----------------------------------------------------------
    def get_metadata(self, table: str) -> CachedQueryMetadata | None:
        return self.provider.get(f"{self.META_PREFIX}{table}")

    def update_metadata(self, table: str, **fields) -> None:
        meta = self.get_metadata(table) or CachedQueryMetadata()
        for k, v in fields.items():
            setattr(meta, k, v)
        meta.last_update = time.time()
        self.provider.set(f"{self.META_PREFIX}{table}", meta)

    # -- invalidation ------------------------------------------------------
    def invalidate(self, table: str) -> None:
        self.provider.delete(f"{self.DATA_PREFIX}{table}")
        self.provider.delete(f"{self.META_PREFIX}{table}")

    def invalidate_if_stale(self, table: str, max_age_seconds: float) -> bool:
        """TTL staleness check (application/query_cache_manager.py:335-373)."""
        meta = self.get_metadata(table)
        if meta is None:
            return False
        if time.time() - meta.last_update > max_age_seconds:
            self.invalidate(table)
            return True
        return False

    def stats(self) -> dict:
        total = self.hits + self.misses
        return {
            "hits": self.hits,
            "misses": self.misses,
            "hit_rate": self.hits / total if total else 0.0,
        }

    def clear(self) -> None:
        self.provider.clear()
        self.hits = 0
        self.misses = 0
