"""Sampled type-vote inference and column conversion (reference J1-J9).

The reference's Oracle-VARCHAR2 problem: every column may arrive as a
string, with numeric payloads and 14-digit compact timestamps. It detects
types by sampling ≤1000 rows and voting with a 0.9 parse-success
threshold (data/converter.py:19-111), then converts per column on a
thread pool (data/converter.py:254-355).

Spark-first redesign:
- **One job for all columns**: the candidate columns' first
  ≤``sample_size`` rows are collected once through ``CollectLimit``
  (one job), and every column's numeric AND datetime vote flags are one
  projection over that driver-local sample — Spark folds a projection
  over a local relation on the driver, so it runs no job, and the
  reference's 4-worker ThreadPool disappears. Averaging the flags on the
  driver, not in ``df.limit(n).agg(...)``, also keeps the generated code
  stable: Spark 4.1 names the limit counter of a codegen'd limit
  ``_limit_counter_<n>`` with a process-wide ``n``, so that aggregate
  compiled new generated classes on every call and never hit the
  codegen cache.
- **Conversion is one select**: per-column cast expressions in a single
  projection — no data moves twice, whole-stage codegen handles all
  columns at once.
- Votes use ``try_cast`` / ``try_to_timestamp`` (null on failure), the
  engine-side equivalent of ``pd.to_numeric(errors='coerce')``; the
  conversion uses the same expressions, so detect ≡ convert.

Precedence parity with ``detect_column_type`` (data/converter.py:202-230):
existing numeric/datetime dtype wins; then datetime probe; then numeric
probe; else string.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, NumericType, StringType, TimestampType

from ..config import SAMPLE_SIZE_FOR_TYPE_DETECTION, TYPE_CONVERSION_THRESHOLD
from .timefn import parse_compact_timestamp

NUMERIC = "numeric"
DATETIME = "datetime"
STRING = "string"


def numeric_flag(col: str) -> Column:
    """1 if a value parses as DOUBLE, 0 if not, null for a null (J1).

    Null flags stay out of the vote, so the fraction is over non-null
    values only — parity with the reference's ``series.dropna()``
    sampling.
    """
    c = F.col(col).cast("string")
    return F.when(c.isNotNull(), c.try_cast("double").isNotNull().cast("int"))


def datetime_flag(col: str) -> Column:
    """1 if a value parses in an accepted datetime format (J2): 14-digit,
    8-digit, ISO, slash-date — via the same expression the conversion
    uses, so detect ≡ convert. 0 if not, null for a null."""
    c = F.col(col).cast("string")
    return F.when(c.isNotNull(), parse_compact_timestamp(c).isNotNull().cast("int"))


def _fraction(flags) -> float:
    """Mean of the non-null flags; 0.0 when every value was null."""
    seen = [f for f in flags if f is not None]
    return sum(seen) / len(seen) if seen else 0.0


@dataclass
class InferenceReport:
    """Outcome of detect+convert (J6's summary dict shape)."""

    decisions: dict[str, str] = field(default_factory=dict)  # col -> kind
    numeric: list[str] = field(default_factory=list)
    datetime: list[str] = field(default_factory=list)
    unchanged: list[str] = field(default_factory=list)
    fractions: dict[str, dict[str, float]] = field(default_factory=dict)


def vote_string_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    sample_size: int = SAMPLE_SIZE_FOR_TYPE_DETECTION,
) -> dict[str, dict[str, float]]:
    """Numeric+datetime vote fractions for all candidate string columns
    from ONE job: the ≤``sample_size``-row sample is collected once, and
    the flags are evaluated over it on the driver.
    """
    if columns is None:
        columns = [
            f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
        ]
    if not columns:
        return {}
    cols = df.select(*columns)
    sample = df.sparkSession.createDataFrame(
        cols.limit(sample_size).toArrow(), schema=cols.schema
    )
    rows = sample.select(
        *[flag(c) for c in columns for flag in (numeric_flag, datetime_flag)]
    ).collect()
    return {
        c: {
            "numeric_fraction": _fraction(r[2 * i] for r in rows),
            "datetime_fraction": _fraction(r[2 * i + 1] for r in rows),
        }
        for i, c in enumerate(columns)
    }


def detect_convertible_columns(
    df: DataFrame,
    threshold: float = TYPE_CONVERSION_THRESHOLD,
    sample_size: int = SAMPLE_SIZE_FOR_TYPE_DETECTION,
) -> dict[str, str]:
    """Suggest conversions without applying them (J7).

    Returns ``{column: 'numeric'|'datetime'}`` for string columns whose
    vote clears ``threshold``; datetime outranks numeric (J5 precedence).
    """
    votes = vote_string_columns(df, sample_size=sample_size)
    out: dict[str, str] = {}
    for c, v in votes.items():
        if v["datetime_fraction"] >= threshold:
            out[c] = DATETIME
        elif v["numeric_fraction"] >= threshold:
            out[c] = NUMERIC
    return out


def detect_column_type(
    df: DataFrame,
    column: str,
    threshold: float = TYPE_CONVERSION_THRESHOLD,
    sample_size: int = SAMPLE_SIZE_FOR_TYPE_DETECTION,
) -> str:
    """Single-column decision tree (J5, data/converter.py:202-230)."""
    dt = df.schema[column].dataType
    if isinstance(dt, NumericType):
        return NUMERIC
    if isinstance(dt, (TimestampType, DateType)):
        return DATETIME
    if not isinstance(dt, StringType):
        return STRING
    votes = vote_string_columns(df, [column], sample_size)[column]
    if votes["datetime_fraction"] >= threshold:
        return DATETIME
    if votes["numeric_fraction"] >= threshold:
        return NUMERIC
    return STRING


def conversion_expr(col: str, kind: str) -> Column:
    """Cast expression for one column (null-on-failure, 'coerce' parity)."""
    c = F.col(col)
    if kind == NUMERIC:
        return c.cast("string").try_cast("double").alias(col)
    if kind == DATETIME:
        return parse_compact_timestamp(c).alias(col)
    return c


def convert_selected_columns(df: DataFrame, selections: dict[str, str]) -> DataFrame:
    """Apply user-selected conversions (J8, data/converter.py:397-429).

    Missing columns are skipped silently (reference parity). One
    projection — all casts happen in a single codegen stage.
    """
    exprs = []
    for f_ in df.schema.fields:
        kind = selections.get(f_.name)
        if kind in (NUMERIC, DATETIME) and isinstance(f_.dataType, StringType):
            exprs.append(conversion_expr(f_.name, kind))
        else:
            exprs.append(F.col(f_.name))
    return df.select(*exprs)


def detect_and_convert_types(
    df: DataFrame,
    threshold: float = TYPE_CONVERSION_THRESHOLD,
    sample_size: int = SAMPLE_SIZE_FOR_TYPE_DETECTION,
) -> tuple[DataFrame, InferenceReport]:
    """Detect + convert every eligible column (J6/J9).

    Returns the converted DataFrame and a report mirroring the
    reference's ``{numeric: [], datetime: [], unchanged: []}`` summary
    plus raw vote fractions.
    """
    report = InferenceReport(fractions=vote_string_columns(df, sample_size=sample_size))
    for c, v in report.fractions.items():
        if v["datetime_fraction"] >= threshold:
            report.decisions[c] = DATETIME
            report.datetime.append(c)
        elif v["numeric_fraction"] >= threshold:
            report.decisions[c] = NUMERIC
            report.numeric.append(c)
    report.unchanged = [c for c in df.columns if c not in report.decisions]
    return convert_selected_columns(df, report.decisions), report
