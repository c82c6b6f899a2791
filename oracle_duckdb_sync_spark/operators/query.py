"""Scan/filter/sort/limit combinators (reference QueryBuilder surface).

Reference parity map:
- B1 ``build_select_query`` (data/query_builder.py:21-54)      → :func:`select_limited`
- B2 ``build_count_query``  (data/query_builder.py:153-167)    → :func:`count_rows`
- B3 watermark predicate    (data/query_builder.py:57-102)     → :func:`watermark_read`
- B4 numeric range filter   (ui/visualization.py:116-152)      → :func:`range_filter`
- B5 time range filter      (ui/visualization.py:249-266)      → :func:`time_range_filter`
- B6 equality point read    (repository/sync_log_repo.py:152-234) → :func:`point_read`
- B7 retention filter       (repository/sync_log_repo.py:280-303) → :func:`retention_filter`
- E3 top-k recency          (repository/sync_log_repo.py:204-234) → :func:`top_k_recent`

All of these are single Catalyst expressions: filters and projections
push down to the Parquet/JDBC scan, ``limit`` becomes ``CollectLimit`` /
pushed limit, and ``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject``
(a distributed top-k that never globally sorts — the right plan at 100 TB).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from datetime import date, datetime, timedelta
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def select_limited(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    limit: int | None = None,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """``SELECT {cols|*} FROM t [ORDER BY ...] [LIMIT n]`` (B1).

    The reference's LIMIT without ORDER BY is storage-order nondeterministic;
    callers that need reproducible pages should pass ``order_by`` (the
    differential oracle always does).
    """
    out = df.select(*columns) if columns else df
    if order_by:
        out = out.orderBy(*order_by)
    if limit is not None:
        out = out.limit(limit)
    return out


def count_rows(df: DataFrame) -> int:
    """``SELECT COUNT(*)`` (B2)."""
    return df.count()


_EPOCH_WALL = datetime(1970, 1, 1)


def _timestamp_kind(df: DataFrame, time_col: str) -> str | None:
    """``"timestamp"`` (an instant), ``"timestamp_ntz"`` (a wall clock)
    or None: the one place that decides how a watermark on ``time_col``
    travels as epoch microseconds.

    An instant maps through ``unix_micros``/``timestamp_micros``. A wall
    clock maps as if it were UTC — what DuckDB's ``epoch_us`` gives for
    a naive TIMESTAMP — and is converted on the driver, so neither kind
    passes through the session time zone."""
    kind = dict(df.dtypes).get(time_col)
    return kind if kind in ("timestamp", "timestamp_ntz") else None


def watermark_literal(df: DataFrame, time_col: str, last_value) -> Column:
    """Timezone-safe literal for a watermark comparison.

    Timestamp watermarks should travel as **epoch microseconds** (int):
    collected datetimes render in the driver-OS timezone while string
    literals parse in the *session* timezone, so an ISO-string round trip
    silently shifts the bound by the tz offset. An int literal is immune
    (see :func:`_timestamp_kind`). Strings/datetimes still work for
    callers that control both sides.
    """
    kind = _timestamp_kind(df, time_col)
    if kind == "timestamp" and isinstance(last_value, int):
        return F.timestamp_micros(F.lit(last_value))
    if kind == "timestamp_ntz" and isinstance(last_value, int):
        wall = _EPOCH_WALL + timedelta(microseconds=last_value)
        return F.lit(wall.isoformat(" ")).cast("timestamp_ntz")
    return F.lit(last_value)


def collect_watermark(df: DataFrame, time_col: str):
    """MAX(time_col) as a JSON-storable, timezone-proof value: epoch
    microseconds for timestamp columns (see :func:`watermark_literal`
    for why strings/datetimes are unsafe), the raw value otherwise."""
    return count_and_watermark(df, time_col)[1]


def _watermark_metrics(
    df: DataFrame, time_col: str | None
) -> tuple[list[Column], Callable[[dict], tuple[int, Any]]]:
    """The aggregate columns ``n`` (COUNT(*)) and ``wm`` (the
    :func:`collect_watermark` value before decoding), and the decoder
    that turns their values into ``(count, watermark)``: the one place
    the watermark's timestamp / TIMESTAMP_NTZ mapping is made, for an
    aggregate and for an observed pass alike. Without ``time_col`` the
    watermark is None."""
    kind = _timestamp_kind(df, time_col) if time_col else None
    cols = [F.count(F.lit(1)).alias("n")]
    if time_col:
        top = F.max(time_col)
        cols.append((F.unix_micros(top) if kind == "timestamp" else top).alias("wm"))

    def decode(values: dict) -> tuple[int, Any]:
        wm = values.get("wm")
        if kind == "timestamp_ntz" and wm is not None:
            wm = (wm - _EPOCH_WALL) // timedelta(microseconds=1)
        return values["n"], wm

    return cols, decode


def count_and_watermark(df: DataFrame, time_col: str | None) -> tuple[int, Any]:
    """COUNT(*) and the :func:`collect_watermark` value in one aggregate,
    where ``count()`` and a MAX would be two actions (each its own jobs
    under AQE). Without ``time_col`` the watermark is None."""
    cols, decode = _watermark_metrics(df, time_col)
    return decode(df.agg(*cols).first().asDict())


def observe_count_and_watermark(
    df: DataFrame, time_col: str | None
) -> tuple[DataFrame, Callable[[], tuple[int, Any]]]:
    """``df`` with the :func:`count_and_watermark` values observed on the
    next action that scans it once (a write, a pin), and a getter that
    returns them once that action has run. Each call makes a fresh ``Observation``:
    one observes a single action, so a retried write calls this again."""
    cols, decode = _watermark_metrics(df, time_col)
    seen = Observation()
    return df.observe(seen, *cols), lambda: decode(seen.get)


def epoch_micros(col: Column, kind: str) -> Column:
    """A ``kind`` column (see :func:`_timestamp_kind`) as epoch
    microseconds, on the executors. A wall clock maps through an
    interval from the NTZ epoch: ``timestampdiff`` on TIMESTAMP_NTZ goes
    through the session time zone and is an hour off across DST."""
    if kind == "timestamp":
        return F.unix_micros(col)
    since = (col - _epoch_ntz()).cast("interval second").cast("decimal(24,6)")
    return (since * 1_000_000).cast("long")


def from_epoch_micros(col: Column, kind: str) -> Column:
    """Epoch microseconds back to a ``kind`` column: the inverse of
    :func:`epoch_micros`."""
    if kind == "timestamp":
        return F.timestamp_micros(col)
    return F.timestamp_add("MICROSECOND", col, _epoch_ntz())


def _epoch_ntz() -> Column:
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")


def watermark_read(
    df: DataFrame,
    time_col: str,
    last_value: str | datetime | int | None,
    limit: int | None = None,
    tiebreaker: str | None = None,
) -> DataFrame:
    """Incremental watermark read (B3/H1 source side).

    ``WHERE time_col > last_value ORDER BY time_col [LIMIT n]`` with the
    reference's **exclusive** lower bound (data/query_builder.py:93).
    ``last_value=None`` means initial load (no predicate); an int value on
    a timestamp column is interpreted as epoch microseconds (see
    :func:`watermark_literal`). The predicate is a plain comparison →
    pushed down to Parquet row-group pruning / JDBC. ``tiebreaker`` adds a
    secondary sort key so LIMIT pages are deterministic when timestamps
    collide.
    """
    out = (
        df
        if last_value is None
        else df.filter(F.col(time_col) > watermark_literal(df, time_col, last_value))
    )
    keys = [F.col(time_col).asc()]
    if tiebreaker:
        keys.append(F.col(tiebreaker).asc())
    out = out.orderBy(*keys)
    if limit is not None:
        out = out.limit(limit)
    return out


def watermark_read_partitioned(
    df: DataFrame,
    time_col: str,
    date_col: str,
    last_value_us: int,
    limit: int | None = None,
    tiebreaker: str | None = None,
) -> DataFrame:
    """Watermark read on a day-partitioned table: directory pruning +
    row-group pruning in one predicate (B3/H1 at production layout).

    ``time_col > wm`` alone prunes row groups but still *lists* every
    partition; the derived bound ``date_col >= utc_day(wm)`` is a
    partition-column literal, so the scan visits only directories on or
    after the watermark's UTC day — on a year-partitioned 100 TB table an
    incremental cycle reads one day's directories, not 365. ``date_col``
    must be the UTC-day of ``time_col`` (sources/testdata.utc_day_expr);
    the day bound is derived with the same epoch arithmetic, so the pair
    of predicates is exactly equivalent to the single time predicate.
    Requires ``last_value_us >= 0`` (floor-div day arithmetic).
    """
    day = date(1970, 1, 1) + timedelta(days=last_value_us // 86_400_000_000)
    out = df.filter(
        (F.col(date_col) >= F.lit(day))
        & (F.col(time_col) > F.timestamp_micros(F.lit(last_value_us)))
    )
    keys = [F.col(time_col).asc()]
    if tiebreaker:
        keys.append(F.col(tiebreaker).asc())
    out = out.orderBy(*keys)
    if limit is not None:
        out = out.limit(limit)
    return out


def range_filter(df: DataFrame, column: str, lo: float, hi: float) -> DataFrame:
    """Inclusive numeric range filter; NULL/NaN rows drop out (B4).

    pandas comparison drops NaN rows in the reference
    (ui/visualization.py:116-152); SQL comparison with NULL is false and
    NaN compares false under both engines' range predicates, so semantics
    line up without special-casing.
    """
    c = F.col(column)
    cond = (c >= F.lit(lo)) & (c <= F.lit(hi))
    if isinstance(df.schema[column].dataType, (DoubleType, FloatType)):
        cond = cond & ~F.isnan(c)
    return df.filter(cond)


def time_range_filter(df: DataFrame, column: str, start, end) -> DataFrame:
    """Inclusive time-range filter (B5). End-of-day handling (the
    reference's ``+1 day − 1 s``, ui/visualization.py:334-343) belongs to
    the caller building ``end``."""
    return df.filter(F.col(column).between(F.lit(start), F.lit(end)))


def point_read(df: DataFrame, **equals) -> DataFrame:
    """Equality-predicate point read, ``WHERE k1 = v1 AND k2 = v2`` (B6)."""
    out = df
    for k, v in equals.items():
        out = out.filter(F.col(k) == F.lit(v))
    return out


def retention_filter(df: DataFrame, time_col: str, cutoff) -> DataFrame:
    """Rows surviving a retention delete: ``time_col >= cutoff`` (B7).

    The reference deletes in place (repository/sync_log_repo.py:280-303);
    on Parquet the delete is a filtered rewrite — this is the filter.
    """
    return df.filter(F.col(time_col) >= F.lit(cutoff))


def top_k_recent(df: DataFrame, time_col: str, k: int, tiebreaker: str | None = None) -> DataFrame:
    """``ORDER BY time_col DESC LIMIT k`` (E3) → TakeOrderedAndProject."""
    keys = [F.col(time_col).desc()]
    if tiebreaker:
        keys.append(F.col(tiebreaker).desc())
    return df.orderBy(*keys).limit(k)


def max_value(df: DataFrame, column: str) -> Column:
    """Aggregate column for ``SELECT MAX(c)`` (D3/D4 watermark extraction)."""
    return F.max(F.col(column))
