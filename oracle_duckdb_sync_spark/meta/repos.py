"""Metadata repositories over Parquet tables (reference pillar 3).

Reference parity map (all DDL/CRUD against DuckDB in the reference):
- A18 metadata DDL sinks: ``sync_logs`` (repository/sync_log_repo.py:47-59),
  ``users`` (auth/repository.py:44-56), ``menus`` (menu/repository.py:43-60),
  ``table_configs`` (table_config/repository.py:43-62)
- A19 auto-increment ids via ``last_insert_rowid()``
  (repository/sync_log_repo.py:103) → single-writer ``max(id)+1``
- B6  parameterized equality point reads (repository/sync_log_repo.py:152-234)
- B7  retention delete (repository/sync_log_repo.py:280-303)
- D5  conditional-aggregate statistics (repository/sync_log_repo.py:236-278)
- E3  top-k recency (repository/sync_log_repo.py:204-234)
- FK  ``menus.user_id REFERENCES users ON DELETE CASCADE``
  (menu/repository.py:54) — enforced here in :meth:`UserRepository.delete`

Design: metadata tables are tiny (thousands of rows) and single-writer
(the reference is too — guarded by ``SyncLock``). Each mutation is one
:mod:`..sources.sinks` rewrite — ``insert`` through ``sinks.overwrite``,
``update``/``delete`` through ``sinks.update_where``/``delete_where`` —
so a failed job leaves the table as it was (the sinks' staged swap) and
the table's rows never pass through the driver. The read path stays a
plain ``spark.read.parquet``. At 100 TB the DATA tables never live here
— only operational metadata.
"""

from __future__ import annotations

import hashlib
import os
import secrets
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.aggregate import conditional_rollup
from ..sources import sinks

SYNC_LOG_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("sync_id", StringType()),
        StructField("table_name", StringType()),
        StructField("sync_type", StringType()),
        StructField("status", StringType()),  # running/completed/failed
        StructField("total_rows", LongType()),
        StructField("error_message", StringType()),
        StructField("start_time", TimestampType()),
        StructField("end_time", TimestampType()),
        StructField("duration_seconds", DoubleType()),
    ]
)

USER_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("username", StringType(), False),
        StructField("password_hash", StringType()),
        StructField("role", StringType()),
        StructField("is_active", BooleanType()),
        StructField("created_at", TimestampType()),
    ]
)

MENU_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("user_id", LongType()),  # FK → users.id, cascade on delete
        StructField("name", StringType()),
        StructField("path", StringType()),
        StructField("order", IntegerType()),
        StructField("is_active", BooleanType()),
    ]
)

TABLE_CONFIG_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("table_name", StringType(), False),
        StructField("oracle_table", StringType()),
        StructField("primary_key", StringType()),
        StructField("time_column", StringType()),
        StructField("sync_enabled", BooleanType()),
        StructField("updated_at", TimestampType()),
    ]
)


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


class ParquetRepository:
    """Generic single-writer CRUD repository over one Parquet table.

    ``insert`` assigns ``max(id)+1`` (A19 parity — the reference's
    ``last_insert_rowid()`` is equally single-writer, serialized by its
    ``SyncLock``).
    """

    schema: StructType = StructType([StructField("id", LongType(), False)])
    name: str = "table"

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, self.name)
        if not os.path.exists(os.path.join(self.path, "_SUCCESS")):
            sinks.overwrite(spark.createDataFrame([], self.schema), self.path)

    # -- reads ---------------------------------------------------------------

    def df(self) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(self.path)

    def all(self) -> list[Row]:
        return self.df().orderBy("id").collect()

    def get(self, id_: int) -> Row | None:
        rows = self.df().filter(F.col("id") == id_).limit(1).collect()
        return rows[0] if rows else None

    def find(self, **eq) -> list[Row]:
        """B6 equality point reads, conjunctive."""
        df = self.df()
        for k, v in eq.items():
            df = df.filter(F.col(k) == F.lit(v))
        return df.orderBy("id").collect()

    def count(self) -> int:
        return self.df().count()

    # -- writes (single-writer, each one sinks rewrite) ----------------------

    def insert(self, **values: Any) -> int:
        cur = self.df()
        new_id = int(cur.agg(F.max("id")).first()[0] or 0) + 1
        values = {"id": new_id, **values}
        row = [tuple(values.get(f.name) for f in self.schema.fields)]
        new = self.spark.createDataFrame(row, self.schema)
        # coalesce(1): the table stays one file
        sinks.overwrite(cur.unionByName(new).coalesce(1), self.path)
        return new_id

    def update(self, id_: int, **values: Any) -> bool:
        """Set ``values`` (literals or Columns over the pre-update row)
        on row ``id_``; each is cast to its field's type, so column types
        never drift. False when there is no such row."""
        sets = {k: F.lit(v).cast(self.schema[k].dataType) for k, v in values.items()}
        return sinks.update_where(self.spark, self.path, F.col("id") == id_, sets) > 0

    def delete(self, id_: int) -> bool:
        return self.delete_where(F.col("id") == id_) > 0

    def delete_where(self, condition) -> int:
        """SQL DELETE: a row whose condition is NULL is kept."""
        return sinks.delete_where(self.spark, self.path, condition)


class SyncLogRepository(ParquetRepository):
    """Sync-run audit log with statistics (reference sync_log_repo.py)."""

    schema = SYNC_LOG_SCHEMA
    name = "sync_logs"

    def log_start(self, sync_id: str, table_name: str, sync_type: str) -> int:
        return self.insert(
            sync_id=sync_id,
            table_name=table_name,
            sync_type=sync_type,
            status="running",
            start_time=_utcnow(),
        )

    def log_end(
        self,
        id_: int,
        status: str,
        total_rows: int = 0,
        error_message: str | None = None,
    ) -> bool:
        end = _utcnow()
        # from the stored instant, not a collected start_time: that comes
        # back as a naive datetime in the driver OS's time zone
        dur = (F.unix_micros(F.lit(end)) - F.unix_micros("start_time")) / 1e6
        return self.update(
            id_,
            status=status,
            total_rows=total_rows,
            error_message=error_message,
            end_time=end,
            duration_seconds=dur,
        )

    def recent(self, k: int = 10) -> list[Row]:
        """E3 top-k recency — TakeOrderedAndProject, not a global sort."""
        return (
            self.df()
            .orderBy(F.col("start_time").desc(), F.col("id").desc())
            .limit(k)
            .collect()
        )

    def stats(self, table_name: str | None = None) -> dict:
        """D5 conditional-aggregate rollup (sync_log_repo.py:236-278)."""
        where = {"table_name": table_name} if table_name else None
        row = conditional_rollup(
            self.df(),
            status_col="status",
            value_col="total_rows",
            statuses=("completed", "failed", "running"),
            where=where,
        ).first()
        return row.asDict()

    def cleanup_old(self, days: int) -> int:
        """B7 retention delete as a filtered rewrite."""
        cutoff = F.current_timestamp() - F.expr(f"INTERVAL {int(days)} DAYS")
        return self.delete_where(F.col("start_time") < cutoff)


def hash_password(password: str, salt: str | None = None) -> str:
    """PBKDF2-SHA256 (stdlib; the reference uses bcrypt — auth/password.py
    — which is not shipped in this container). Format: salt$hexdigest."""
    salt = salt or secrets.token_hex(16)
    digest = hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt.encode(), 100_000
    ).hex()
    return f"{salt}${digest}"


def verify_password(password: str, stored: str) -> bool:
    try:
        salt, _ = stored.split("$", 1)
    except ValueError:
        return False
    return secrets.compare_digest(hash_password(password, salt), stored)


class UserRepository(ParquetRepository):
    """Users + auth (reference auth/repository.py)."""

    schema = USER_SCHEMA
    name = "users"

    def __init__(self, spark: SparkSession, base_dir: str,
                 menus: "MenuRepository | None" = None):
        super().__init__(spark, base_dir)
        self._menus = menus

    def create_user(self, username: str, password: str, role: str = "user") -> int:
        if self.find(username=username):
            raise ValueError(f"username exists: {username}")
        return self.insert(
            username=username,
            password_hash=hash_password(password),
            role=role,
            is_active=True,
            created_at=_utcnow(),
        )

    def authenticate(self, username: str, password: str) -> Row | None:
        rows = self.find(username=username, is_active=True)
        if rows and verify_password(password, rows[0]["password_hash"]):
            return rows[0]
        return None

    def delete(self, id_: int) -> bool:
        """ON DELETE CASCADE parity (menu/repository.py:54): the
        reference's FK is enforced by DuckDB; here the repository layer
        owns it."""
        if self._menus is not None:
            self._menus.delete_where(F.col("user_id") == id_)
        return super().delete(id_)


class MenuRepository(ParquetRepository):
    """Menus ordered by the quoted `order` column (menu/repository.py)."""

    schema = MENU_SCHEMA
    name = "menus"

    def for_user(self, user_id: int) -> list[Row]:
        return (
            self.df()
            .filter((F.col("user_id") == user_id) & F.col("is_active"))
            .orderBy("order", "id")
            .collect()
        )


class TableConfigRepository(ParquetRepository):
    """Per-table sync configuration (table_config/repository.py)."""

    schema = TABLE_CONFIG_SCHEMA
    name = "table_configs"

    def upsert_config(self, table_name: str, **values: Any) -> int:
        existing = self.find(table_name=table_name)
        if existing:
            self.update(existing[0]["id"], updated_at=_utcnow(), **values)
            return existing[0]["id"]
        return self.insert(table_name=table_name, updated_at=_utcnow(), **values)

    def enabled_tables(self) -> list[str]:
        return [
            r["table_name"]
            for r in self.df().filter(F.col("sync_enabled")).orderBy("table_name").collect()
        ]
