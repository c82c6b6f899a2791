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
(the reference is too — guarded by ``SyncLock``), so they live off the
Spark job path. Each table is a directory holding exactly one file,
``data.parquet``. Every mutation runs on the driver with pyarrow: read
the file, apply the change, write a hidden sibling, fsync it and
``os.replace`` it onto the data file (:func:`..sources.state.replace_file`,
the primitive the JSON state uses) — one rename is the commit point, so
a kill leaves the old table or the new one, and no mutation runs a
Spark job or needs a session. Reads stay on Spark: :meth:`ParquetRepository.df`
scans the data file with the declared schema, so ``get``/``find``/
``stats``/``recent`` return Spark rows. A directory Spark wrote (part
files, ``_SUCCESS``) is migrated to the one-file layout when the
repository opens. At 100 TB the DATA tables never live here — only
operational metadata.
"""

from __future__ import annotations

import hashlib
import os
import secrets
from datetime import datetime, timedelta, timezone
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
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
from ..sources.state import replace_file

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
    """Generic single-writer CRUD repository over one Parquet file.

    ``insert`` assigns ``max(id)+1`` (A19 parity — the reference's
    ``last_insert_rowid()`` is equally single-writer, serialized by its
    ``SyncLock``).
    """

    schema: StructType = StructType([StructField("id", LongType(), False)])
    name: str = "table"
    DATA_FILE = "data.parquet"

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, self.name)
        self.data_file = os.path.join(self.path, self.DATA_FILE)
        self._arrow = to_arrow_schema(self.schema)
        os.makedirs(self.path, exist_ok=True)
        if not os.path.exists(self.data_file):
            self._commit(self._spark_written_rows())
        self._remove_strays()

    # -- layout --------------------------------------------------------------

    def _spark_written_rows(self) -> pa.Table:
        """The rows of a directory Spark wrote (part files, its timestamp
        encoding) in this table's Arrow schema; none when there are no
        part files. Read only while no data file exists, so a migration
        killed at any step is redone from the same part files."""
        parts = sorted(
            os.path.join(self.path, f) for f in os.listdir(self.path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return self._arrow.empty_table()
        tables = [pq.read_table(p, coerce_int96_timestamp_unit="us") for p in parts]
        return pa.concat_tables(t.select(self._arrow.names).cast(self._arrow) for t in tables)

    def _remove_strays(self) -> None:
        """Delete all but the data file: part files and ``_SUCCESS`` a
        migration committed past, and siblings of a write that never
        reached its rename."""
        for f in os.listdir(self.path):
            if f != self.DATA_FILE:
                os.remove(os.path.join(self.path, f))

    def _read(self) -> pa.Table:
        return pq.read_table(self.data_file)

    def _commit(self, table: pa.Table) -> None:
        replace_file(self.data_file, lambda f: pq.write_table(table, f))

    def _matching(self, **eq) -> list[dict]:
        """Rows with ``k == v`` for every pair, read on the driver: the
        lookups mutations make, where :meth:`find` would run a job."""
        cond = pc.scalar(True)
        for k, v in eq.items():
            cond = cond & (pc.field(k) == v)
        return self._read().filter(cond).to_pylist()

    # -- reads ---------------------------------------------------------------

    def df(self) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(self.data_file)

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

    # -- writes (single-writer, each one file replace) -----------------------

    def insert(self, **values: Any) -> int:
        cur = self._read()
        new_id = (pc.max(cur["id"]).as_py() or 0) + 1
        row = pa.Table.from_pylist([{**values, "id": new_id}], schema=self._arrow)
        self._commit(pa.concat_tables([cur, row]))
        return new_id

    def update(self, id_: int, **values: Any) -> bool:
        """Set literal ``values`` on row ``id_``; each is cast to its
        field's Arrow type, so column types never drift. False when there
        is no such row."""
        cur = self._read()
        hit = pc.equal(cur["id"], id_)
        if not pc.any(hit).as_py():
            return False
        sets = {k: pa.scalar(v).cast(self._arrow.field(k).type) for k, v in values.items()}
        cols = [pc.if_else(hit, sets[f.name], cur[f.name]) if f.name in sets else cur[f.name]
                for f in self._arrow]
        self._commit(pa.Table.from_arrays(cols, schema=self._arrow))
        return True

    def delete(self, id_: int) -> bool:
        return self.delete_where(pc.field("id") == id_) > 0

    def delete_where(self, condition: pc.Expression) -> int:
        """SQL DELETE over a pyarrow predicate: a row whose condition is
        NULL is kept. Returns the number of rows deleted."""
        cur = self._read()
        kept = cur.filter(~pc.coalesce(condition, pc.scalar(False)))
        if kept.num_rows < cur.num_rows:
            self._commit(kept)
        return cur.num_rows - kept.num_rows


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
        rows = self._matching(id=id_)
        if not rows:
            return False
        end = _utcnow()
        # the stored start_time reads back as a UTC-aware datetime
        start = rows[0]["start_time"]
        return self.update(
            id_,
            status=status,
            total_rows=total_rows,
            error_message=error_message,
            end_time=end,
            duration_seconds=None if start is None else (end - start).total_seconds(),
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
        cutoff = _utcnow() - timedelta(days=int(days))
        return self.delete_where(pc.field("start_time") < cutoff)


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
        if self._matching(username=username):
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
            self._menus.delete_where(pc.field("user_id") == id_)
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
        existing = self._matching(table_name=table_name)
        if existing:
            self.update(existing[0]["id"], updated_at=_utcnow(), **values)
            return existing[0]["id"]
        return self.insert(table_name=table_name, updated_at=_utcnow(), **values)

    def enabled_tables(self) -> list[str]:
        return [
            r["table_name"]
            for r in self.df().filter(F.col("sync_enabled")).orderBy("table_name").collect()
        ]
