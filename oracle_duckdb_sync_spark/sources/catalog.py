"""Parquet-warehouse catalog.

Spark replacement for the reference's DuckDB file database: a directory of
Parquet tables plus ``spark.catalog`` temp views. Covers the reference's
catalog surface:

- table listing   (data/query.py:42-48, ``SHOW TABLES``
  application/query_service.py:59-61)           → :meth:`Catalog.list_tables`
- existence probe (database/duckdb_source.py:52-67) → :meth:`Catalog.table_exists`
- row count       (data/query_builder.py:153-167)   → :meth:`Catalog.row_count`
- column metadata via ``LIMIT 0`` (data/query_builder.py:170-184)
  → :meth:`Catalog.schema` / :meth:`Catalog.columns` (plan-only, no job)
- CREATE TABLE IF NOT EXISTS (database/duckdb_source.py:144-151)
  → :meth:`Catalog.create_table`
- DROP TABLE (database/sync_engine.py:164-172)  → :meth:`Catalog.drop_table`

Scale notes: tables are plain Parquet directories, so a 100 TB table is
just more files — scans parallelize by file split, filters/projections
push down to the Parquet reader (min/max row-group pruning), and no
driver-side row data ever materializes here (``row_count`` is a
distributed count, ``schema`` reads footer metadata only).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import EngineConfig
from ..errors import TableNotFoundError
from ..session import local_frame


class Catalog:
    """Registry of named Parquet tables under ``warehouse_dir``."""

    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        # analyzed-relation memo: name -> (version(name), DataFrame).
        # Re-reading a parquet dir costs a schema-inference job (footer
        # read) per call — the reference's DuckDB catalog answers
        # DESCRIBE from its own metadata in ~0 ms, so the interactive
        # loop must not pay a job per action. Keyed by the directory's
        # mtime_ns: every mutation sink swaps or rewrites entries under
        # the table dir (upsert/compact/delete rename dirs, appends add
        # files), which bumps the parent mtime and invalidates the memo
        # — a pre-swap DataFrame is a stale file listing and must never
        # be served.
        self._relations: dict[str, tuple[int, DataFrame]] = {}
        os.makedirs(self.config.warehouse_dir, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def table_path(self, name: str) -> str:
        if not name.replace("_", "").isalnum():
            raise ValueError(f"invalid table name: {name!r}")
        return os.path.join(self.config.warehouse_dir, name)

    # -- reads -------------------------------------------------------------
    def version(self, name: str) -> int | None:
        """Mutation signature of a table's directory tree: XOR of every
        (dir, mtime_ns) under it, equal between two calls iff no file
        was added, removed or renamed anywhere in the tree between them
        (each such change bumps its parent directory's mtime, and parquet
        files themselves are immutable — only directory membership ever
        changes). It catches appends into existing partition leaves,
        partition swaps and full-table swaps alike. Driver-side scandir
        only, no job. None — "unknown, re-read" — for a missing directory
        or past 4096 directories, where re-listing would start to rival a
        real scan."""
        sig = 0
        count = 0
        stack = [self.table_path(name)]
        while stack:
            d = stack.pop()
            try:
                st = os.stat(d)
                with os.scandir(d) as it:
                    subs = [e.path for e in it if e.is_dir(follow_symlinks=False)]
            except OSError:
                return None
            sig ^= hash((d, st.st_mtime_ns))
            count += 1
            if count > 4096:
                return None
            stack.extend(subs)
        return sig

    def invalidate(self, name: str | None = None) -> None:
        """Drop the analyzed-relation memo (one table, or all)."""
        if name is None:
            self._relations.clear()
        else:
            self._relations.pop(name, None)

    def _session_table_matches(self, name: str) -> bool:
        """True iff the SESSION catalog holds a permanent table of this
        name whose location is this warehouse's directory — the real
        source of truth for "was this table analyzed", which outlives
        this Catalog instance (a second Catalog over the same warehouse
        must serve the stats-bearing relation too, not silently fall
        back to a statless scan).

        Deliberately NOT memoized: the session catalog is shared across
        every Catalog instance in the JVM, and analyze() on a second
        Catalog with a DIFFERENT warehouse_dir drops and re-registers
        the same name at ITS location. A stale instance-local "yes"
        memo would then make :meth:`table` serve the other warehouse's
        data (and :meth:`drop_table` drop the other warehouse's
        registration). The check is two driver-side metadata lookups
        (tableExists + DESCRIBE FORMATTED) — no Spark job — which is
        cheap enough to pay on every call for the correctness it buys."""
        try:
            if not self.spark.catalog.tableExists(name):
                return False
            rows = self.spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
        except Exception:
            return False  # temp view or unreadable entry → not ours
        loc = next(
            (r["data_type"] for r in rows if r["col_name"] == "Location"), None
        )
        if loc is None:
            return False
        return os.path.abspath(loc.replace("file:", "", 1)) == os.path.abspath(
            self.table_path(name)
        )

    def table(self, name: str) -> DataFrame:
        path = self.table_path(name)
        if not self._exists_on_disk(name):
            self._relations.pop(name, None)
            raise TableNotFoundError(name)
        sig = self.version(name)
        if sig is not None:
            hit = self._relations.get(name)
            if hit is not None and hit[0] == sig:
                return hit[1]
        if self._session_table_matches(name):
            # stats-bearing catalog relation; a memo miss means the
            # directory mutated since last serve — refresh the file
            # listing (stats stay the last ANALYZE snapshot until the
            # caller re-analyzes; stale stats only skew cost estimates,
            # a stale listing would return wrong data)
            self.spark.sql(f"REFRESH TABLE `{name}`")
            df = self.spark.table(name)
        else:
            df = self.spark.read.parquet(path)
        if sig is not None:
            self._relations[name] = (sig, df)
        else:
            self._relations.pop(name, None)
        return df

    def register_path(self, name: str, parquet_path: str) -> DataFrame:
        """Register an external parquet file/dir as a temp view."""
        df = self.spark.read.parquet(parquet_path)
        df.createOrReplaceTempView(name)
        return df

    # -- metadata ----------------------------------------------------------
    def _exists_on_disk(self, name: str) -> bool:
        # shared predicate (sources/fs.py): a dir without parquet part
        # files or a _SUCCESS marker — e.g. a crashed earlier write —
        # is not a table. One home for the rule so the catalog and the
        # ingest bootstraps can't drift.
        from .fs import parquet_dir_exists

        return parquet_dir_exists(self.spark, self.table_path(name))

    def table_exists(self, name: str) -> bool:
        """information_schema COUNT probe → path check (no job)."""
        return self._exists_on_disk(name)

    def list_tables(self) -> list[str]:
        """Sorted table names (ORDER BY table_name parity, data/query.py:47).

        Swap-staging siblings (``<table>.__tmp-*`` / ``.__bak-*`` /
        ``.__old-*`` from an in-flight or crashed upsert/compact) are
        not tables and are excluded."""
        if not os.path.isdir(self.config.warehouse_dir):
            return []
        return sorted(
            n
            for n in os.listdir(self.config.warehouse_dir)
            if ".__" not in n and self._exists_on_disk(n)
        )

    def row_count(self, name: str) -> int:
        """``SELECT COUNT(*)`` — distributed; Parquet count uses footer stats."""
        return self.table(name).count()

    def schema(self, name: str) -> StructType:
        """Column metadata without running a job (LIMIT-0 parity)."""
        return self.table(name).schema

    def columns(self, name: str) -> list[str]:
        return self.table(name).columns

    def describe(self, name: str) -> list[tuple[str, str]]:
        """DESCRIBE parity (database/sync_engine.py:296-298)."""
        return [(f.name, f.dataType.simpleString()) for f in self.schema(name).fields]

    # -- DDL ---------------------------------------------------------------
    def create_table(self, name: str, schema: StructType, overwrite: bool = False) -> None:
        """CREATE TABLE IF NOT EXISTS: materialize an empty Parquet table.

        Primary keys are advisory (enforced by the upsert sink), matching
        the reference's reliance on DuckDB constraint DDL only for upserts.
        """
        if self._exists_on_disk(name) and not overwrite:
            return
        empty = local_frame(self.spark, [], schema)
        empty.write.mode("overwrite").parquet(self.table_path(name))
        self._relations.pop(name, None)

    def drop_table(self, name: str) -> None:
        """DROP TABLE IF EXISTS — removes the directory AND any session
        catalog entry pointing at it (even one registered by another
        Catalog instance; a dangling entry would reference the rmtree'd
        path)."""
        self._relations.pop(name, None)
        if self._session_table_matches(name):
            self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        path = self.table_path(name)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # -- statistics ----------------------------------------------------------
    def analyze(
        self,
        name: str,
        columns: list[str] | None = None,
        histograms: bool = False,
    ) -> DataFrame:
        """CBO statistics — the Spark analog of warehouse ANALYZE: register
        the parquet directory as an external table in the session catalog
        and compute table + column statistics (row count, min/max, NDV),
        so the cost-based optimizer (``spark.sql.cbo.*``, enabled in
        ``session.build_session``) can reorder ad-hoc join trees by
        estimated cardinality instead of written order. The hand-tuned
        registry plans pin their own join order; this is for the queries
        users write against the warehouse. Returns the stats-bearing
        relation, served by :meth:`table` from now on. Stats are a
        snapshot: after a mutation sink swaps the directory, reads stay
        correct (the memo forces a REFRESH) but costs drift until the
        caller re-analyzes.

        ``histograms=True`` additionally collects equi-height histograms
        (``spark.sql.statistics.histogram.enabled`` for the duration of
        the ANALYZE) — min/max+NDV assume uniform value spread, so
        range-predicate selectivity on skewed columns (the common case:
        recency-skewed timestamps, Zipfian keys) can be off by orders of
        magnitude without them. Costs one extra aggregation pass per
        analyzed column; at 100 TB run it on the filter columns, not ALL."""
        if not self._exists_on_disk(name):
            raise TableNotFoundError(name)
        path = self.table_path(name)
        # guard the IF NOT EXISTS: a same-name temp view would shadow the
        # stats table in spark.table() resolution (refuse loudly), and a
        # stale catalog entry from another warehouse_dir would silently
        # serve the WRONG directory's data (drop and re-register)
        for t in self.spark.catalog.listTables():
            if t.name != name.lower():
                continue
            if t.tableType in ("TEMPORARY", "TEMP_VIEW") or t.isTemporary:
                raise ValueError(
                    f"a temp view named {name!r} exists and would shadow "
                    "the analyzed table; drop the view first"
                )
            rows = self.spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
            loc = next(
                (r["data_type"] for r in rows if r["col_name"] == "Location"),
                None,
            )
            if loc is not None and os.path.abspath(
                loc.replace("file:", "", 1)
            ) != os.path.abspath(path):
                self.spark.sql(f"DROP TABLE `{name}`")
            break
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{name}` USING parquet LOCATION '{path}'"
        )
        self.spark.sql(f"REFRESH TABLE `{name}`")
        hist_key = "spark.sql.statistics.histogram.enabled"
        old_hist = self.spark.conf.get(hist_key, None)
        if histograms:
            self.spark.conf.set(hist_key, "true")
        try:
            if columns:
                self.spark.sql(
                    f"ANALYZE TABLE `{name}` COMPUTE STATISTICS FOR COLUMNS "
                    + ", ".join(f"`{c}`" for c in columns)
                )
            else:
                self.spark.sql(
                    f"ANALYZE TABLE `{name}` COMPUTE STATISTICS FOR ALL COLUMNS"
                )
        finally:
            if histograms:
                if old_hist is None:
                    self.spark.conf.unset(hist_key)
                else:
                    self.spark.conf.set(hist_key, old_hist)
        self._relations.pop(name, None)
        return self.table(name)

    def column_stats(self, name: str, column: str) -> dict:
        """Inspect the catalog's statistics for one analyzed column
        (DESCRIBE EXTENDED parity) — {stat: value} with whatever the
        last ANALYZE collected (distinct_count, min, max, num_nulls,
        histogram, ...). Empty if the table was never analyzed."""
        if not self._session_table_matches(name):
            return {}
        rows = self.spark.sql(
            f"DESCRIBE EXTENDED `{name}` `{column}`"
        ).collect()
        return {
            r["info_name"]: r["info_value"]
            for r in rows
            if r["info_value"] is not None and r["info_name"] != "col_name"
        }

    def row_counts(self) -> dict[str, int]:
        """Row count per table — one distributed count per table."""
        return {n: self.row_count(n) for n in self.list_tables()}

