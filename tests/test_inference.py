"""Type-inference tests over the F1 Oracle-VARCHAR2 fixture shape."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oracle_duckdb_sync_spark.functions import inference as inf
from tests.conftest import count_jobs


@pytest.fixture(scope="module")
def varchar_df(spark):
    rows = []
    for i in range(200):
        rows.append(
            Row(
                ID=float(i),
                TRAN_TIME=f"2023121915{i % 60:02d}{i % 60:02d}",  # 14-digit
                VALUE_1=f"0.12{i % 10}731",
                VALUE_2=str(5.0 * (10 if i % 100 == 0 else 1)),
                STATUS="OK" if i % 2 else "에러",
                NULLY=None if i % 5 == 0 else "3.14",
                DATE8="20231219",
                MIXED="abc" if i < 150 else "1.5",  # 25% numeric < 0.9
            )
        )
    return spark.createDataFrame(rows)


def test_detect_convertible(varchar_df):
    got = inf.detect_convertible_columns(varchar_df)
    assert got["TRAN_TIME"] == inf.DATETIME
    assert got["DATE8"] == inf.DATETIME
    assert got["VALUE_1"] == inf.NUMERIC
    assert got["VALUE_2"] == inf.NUMERIC
    assert got["NULLY"] == inf.NUMERIC  # nulls excluded from the vote
    assert "STATUS" not in got
    assert "MIXED" not in got  # 25% < 0.9 threshold


def test_precedence_datetime_over_numeric(varchar_df):
    # 14-digit strings parse as numbers too; datetime must win (J5)
    assert inf.detect_column_type(varchar_df, "TRAN_TIME") == inf.DATETIME
    assert inf.detect_column_type(varchar_df, "ID") == inf.NUMERIC  # native double
    assert inf.detect_column_type(varchar_df, "STATUS") == inf.STRING


def test_detect_and_convert(varchar_df):
    out, report = inf.detect_and_convert_types(varchar_df)
    types = dict(out.dtypes)
    assert types["TRAN_TIME"] == "timestamp"
    assert types["VALUE_1"] == "double"
    assert types["NULLY"] == "double"
    assert types["STATUS"] == "string"
    assert "STATUS" in report.unchanged and "MIXED" in report.unchanged
    first = out.orderBy("ID").first()
    assert first["VALUE_1"] == pytest.approx(0.120731)
    # null stays null after conversion ('coerce' parity)
    assert out.filter(out.NULLY.isNull()).count() == 40


def test_convert_selected_skips_missing(varchar_df):
    out = inf.convert_selected_columns(varchar_df, {"VALUE_1": "numeric", "NOPE": "numeric"})
    assert dict(out.dtypes)["VALUE_1"] == "double"


def test_unparseable_becomes_null(spark):
    df = spark.createDataFrame([Row(c="99999999"), Row(c="20231301")])  # bad month
    out = inf.convert_selected_columns(df, {"c": "datetime"})
    assert out.filter(out.c.isNull()).count() == 2


def _compilations(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_vote_is_one_job_and_reuses_generated_code(spark, varchar_df, tmp_path):
    """The vote collects its sample once and scores it on the driver: one
    job, and no new generated class on a repeat call. A codegen'd
    ``limit`` names its counter with a process-wide id, so a vote that
    aggregated over ``df.limit(n)`` compiled fresh classes every call."""
    varchar_df.write.parquet(str(tmp_path / "vc"))
    df = spark.read.parquet(str(tmp_path / "vc"))
    want = inf.vote_string_columns(varchar_df)
    assert inf.vote_string_columns(df) == want  # warm call
    before = _compilations(spark)
    votes, n = count_jobs(spark, lambda: [inf.vote_string_columns(df) for _ in range(3)])
    assert votes == [want] * 3
    assert _compilations(spark) == before
    assert n == 3
