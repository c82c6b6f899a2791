"""Oracle JDBC source (reference A1-A6, J10).

The reference drives a thick/thin ``oracledb`` client with a hand-rolled
batched cursor (database/oracle_source.py:100-237). Spark's JDBC source
replaces all of it:

- batched fetch        → ``fetchsize`` (A2/A3; cursor batching lives in
  the connector, default 10 000 matching SYNC_BATCH_SIZE)
- parallelism          → ``partitionColumn/lowerBound/upperBound/
  numPartitions`` — N concurrent range-partitioned cursors, where the
  reference is a single serial cursor
- watermark predicate  → plain ``WHERE`` pushed into the dbtable subquery
- schema introspection → JDBC metadata (A5), mapped to Spark types by
  the connector's dialect

No Oracle server exists in the test environment; the read path is
standard ``spark.read.format("jdbc")`` wiring and is exercised
end-to-end against embedded Apache Derby (ships with Spark) in
``tests/test_jdbc_derby.py`` — full read, batched fetch, partitioned
read, watermark predicate, and a complete ``SyncEngine`` incremental
cycle via :class:`JdbcSyncSource`. Only the Oracle-dialect literal
rendering (``TO_TIMESTAMP``) is untestable in-container.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession

from ..config import SYNC_BATCH_SIZE

# bare or schema-qualified SQL identifiers only (same contract as
# Catalog.table_path); anything else is an injection surface when names
# flow from agent/user input
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$#]*(\.[A-Za-z_][A-Za-z0-9_$#]*)?$")


def validate_identifier(name: str) -> str:
    """Reject anything that isn't a plain (optionally schema-qualified)
    identifier before it is interpolated into generated SQL."""
    if not _IDENT_RE.match(name or ""):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


@dataclass
class JdbcSourceConfig:
    """Connection + parallelism settings for a JDBC source."""

    url: str  # jdbc:oracle:thin:@//host:1521/service
    user: str
    password: str
    driver: str = "oracle.jdbc.OracleDriver"
    fetchsize: int = SYNC_BATCH_SIZE
    partition_column: str | None = None
    num_partitions: int = 8
    # timezone the DB's naive TIMESTAMP columns are recorded in; used to
    # render an epoch-micros watermark back to the wall-clock literal the
    # DB compares against. None = UTC. Prefer 'UTC' or a fixed-offset
    # zone: in a DST-observing zone the fall-back hour repeats, so a
    # naive wall-clock literal rendered inside it is ambiguous and an
    # incremental cycle crossing it can skip or re-read rows
    # (a warning is emitted when that happens).
    db_timezone: str | None = None

    def base_options(self) -> dict[str, Any]:
        opts = {
            "url": self.url,
            "driver": self.driver,
            "fetchsize": str(self.fetchsize),
        }
        if self.user:
            opts["user"] = self.user
            opts["password"] = self.password
        return opts

    def timestamp_literal(self, value: int | str) -> str:
        """Dialect hook: watermark value → SQL timestamp literal.

        The engine persists timestamp watermarks as epoch-microsecond
        ints (operators/query.py ``collect_watermark``); the DB stores
        naive wall-clock TIMESTAMPs, so an int is rendered in
        ``db_timezone`` before formatting. A str is taken as an
        already-formatted ``YYYY-MM-DD HH24:MI:SS.FF6`` wall clock.
        Default renders Oracle's ``TO_TIMESTAMP``; subclasses override
        for other dialects (see ``DerbyConfig`` in tests).
        """
        wall = self._wall_clock(value) if isinstance(value, int) else str(value)
        if "'" in wall:
            raise ValueError(f"invalid watermark literal: {value!r}")
        return f"TO_TIMESTAMP('{wall}', 'YYYY-MM-DD HH24:MI:SS.FF6')"

    def _wall_clock(self, micros: int) -> str:
        tz = ZoneInfo(self.db_timezone) if self.db_timezone else timezone.utc
        # integer µs arithmetic: whole seconds through the tz conversion,
        # microseconds re-attached exactly (float seconds drift ±1 µs)
        dt = datetime.fromtimestamp(micros // 1_000_000, tz=timezone.utc).astimezone(tz)
        naive = dt.replace(tzinfo=None)
        if tz is not timezone.utc:
            # During a DST fall-back the repeated local hour maps to two
            # instants, so a naive TIMESTAMP comparison against this
            # literal can skip or re-read rows. Detect ambiguity via the
            # fold trick and warn; the fix is db_timezone='UTC' (or any
            # fixed-offset zone) for DBs storing naive timestamps.
            if (
                naive.replace(fold=0, tzinfo=tz).utcoffset()
                != naive.replace(fold=1, tzinfo=tz).utcoffset()
            ):
                warnings.warn(
                    f"watermark wall-clock {naive!r} is ambiguous in "
                    f"DST-observing zone {self.db_timezone!r}; incremental "
                    "reads crossing the fall-back hour may skip or re-read "
                    "rows — use db_timezone='UTC' or a fixed-offset zone",
                    stacklevel=3,
                )
        return naive.strftime("%Y-%m-%d %H:%M:%S") + f".{micros % 1_000_000:06d}"


def read_query(
    spark: SparkSession,
    cfg: JdbcSourceConfig,
    query: str,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
) -> DataFrame:
    """Partitioned JDBC read of an arbitrary query (A1/A3).

    With ``partition_column`` + bounds: ``num_partitions`` concurrent
    range cursors. Without: single cursor (the reference's shape).
    """
    reader = spark.read.format("jdbc").options(**cfg.base_options())
    reader = reader.option("dbtable", f"({query}) src")
    if cfg.partition_column and lower_bound is not None and upper_bound is not None:
        reader = (
            reader.option("partitionColumn", cfg.partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(cfg.num_partitions))
        )
    return reader.load()


def read_table(spark: SparkSession, cfg: JdbcSourceConfig, table: str, **kw) -> DataFrame:
    return read_query(spark, cfg, f"SELECT * FROM {validate_identifier(table)}", **kw)


def read_incremental(
    spark: SparkSession,
    cfg: JdbcSourceConfig,
    table: str,
    time_col: str,
    last_value: str | int | None,
    **kw,
) -> DataFrame:
    """Watermark query pushed into Oracle (A1+B3,
    database/oracle_source.py:239-240): exclusive ``>`` bound, ascending
    order — executed inside Oracle, only new rows cross the wire.

    ``last_value`` accepts the engine's persisted watermark forms
    directly: an **epoch-microseconds int** (what ``SyncEngine`` stores
    for timestamp columns) is rendered through
    :meth:`JdbcSourceConfig.timestamp_literal`; a str is treated as a
    pre-formatted ``YYYY-MM-DD HH24:MI:SS.FF6`` wall-clock timestamp.
    Identifiers are validated before interpolation (injection guard —
    table/column names can flow from agent/user input).
    """
    table = validate_identifier(table)
    time_col = validate_identifier(time_col)
    q = f"SELECT * FROM {table}"
    if last_value is not None:
        q += f" WHERE {time_col} > {cfg.timestamp_literal(last_value)}"
    q += f" ORDER BY {time_col} ASC"
    return read_query(spark, cfg, q, **kw)


@dataclass
class JdbcSyncSource:
    """``SyncSource`` adapter: plugs a JDBC table into ``SyncEngine``
    (H1-H5) — full read for ``full_sync``, watermark-predicate read for
    ``incremental_sync``. The engine hands back exactly the watermark it
    persisted (epoch-micros int for timestamp columns), which
    :func:`read_incremental` renders through the config's dialect hook,
    so the predicate executes inside the source DB and only new rows
    cross the wire (reference database/oracle_source.py:239-287).
    """

    cfg: JdbcSourceConfig
    table: str

    def read_full(self, spark: SparkSession) -> DataFrame:
        return read_table(spark, self.cfg, self.table)

    def read_incremental(
        self, spark: SparkSession, time_col: str, last_value: Any | None
    ) -> DataFrame:
        return read_incremental(spark, self.cfg, self.table, time_col, last_value)
