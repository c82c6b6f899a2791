"""LTTB invariants mirroring the reference's property-style tests
(test/data/test_lttb.py:15-258)."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest

from oracle_duckdb_sync_spark.operators import lttb


def _series(n, seed=0):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=n, freq="min"),
            "sensor1": rng.standard_normal(n),
            "sensor2": np.linspace(0, 100, n) + rng.standard_normal(n),
        }
    )


def test_identity_below_threshold():
    pdf = _series(100)
    out = lttb.lttb_pandas(pdf, "time", ["sensor1"], threshold=5000)
    assert len(out) == 100


def test_exact_output_size_and_endpoints():
    pdf = _series(10_000)
    out = lttb.lttb_pandas(pdf, "time", ["sensor1"], threshold=500)
    assert len(out) == 500
    assert out["time"].iloc[0] == pdf["time"].iloc[0]
    assert out["time"].iloc[-1] == pdf["time"].iloc[-1]


def test_spike_preserved():
    pdf = _series(10_000)
    pdf.loc[4321, "sensor1"] = 1000.0
    out = lttb.lttb_pandas(pdf, "time", ["sensor1"], threshold=100)
    assert out["sensor1"].max() == 1000.0


def test_trend_correlation():
    pdf = _series(10_000)
    out = lttb.lttb_pandas(pdf, "time", ["sensor2"], threshold=100)
    corr = np.corrcoef(out["time"].astype("int64"), out["sensor2"])[0, 1]
    assert corr > 0.95


def test_nan_interpolation_path():
    pdf = _series(10_000)
    pdf.loc[pdf.sample(frac=0.05, random_state=1).index, "sensor1"] = np.nan
    out = lttb.lttb_pandas(pdf, "time", ["sensor1", "sensor2"], threshold=200)
    assert len(out) == 200
    assert list(out.columns) == ["time", "sensor1", "sensor2"]


def test_100k_under_1s():
    pdf = _series(100_000)
    t0 = time.monotonic()
    out = lttb.lttb_pandas(pdf, "time", ["sensor1"], threshold=5000)
    assert time.monotonic() - t0 < 1.0
    assert len(out) == 5000


def test_extrema_roughly_preserved():
    pdf = _series(10_000, seed=7)
    out = lttb.lttb_pandas(pdf, "time", ["sensor1"], threshold=100)
    assert out["sensor1"].max() >= 0.9 * pdf["sensor1"].max()
    assert out["sensor1"].min() <= 0.9 * pdf["sensor1"].min()


def test_spark_per_series_downsample(spark):
    pdf = _series(4000)
    pdf["series"] = "a"
    pdf2 = _series(4000, seed=2)
    pdf2["series"] = "b"
    df = spark.createDataFrame(pd.concat([pdf, pdf2]))
    out = lttb.downsample(df, "time", ["sensor1"], threshold=300, series_col="series")
    counts = {r["series"]: r["cnt"] for r in out.groupBy("series").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    assert counts == {"a": 300, "b": 300}


def test_spark_single_series_scale_path(spark):
    pdf = _series(50_000)
    df = spark.createDataFrame(pdf[["time", "sensor2"]])
    out = lttb.downsample_single_series(df, "time", ["sensor2"], threshold=500, prefactor=4)
    res = out.toPandas()
    assert len(res) == 500
    corr = np.corrcoef(res["time"].astype("int64"), res["sensor2"])[0, 1]
    assert corr > 0.95


def test_single_series_scale_path_timestamp_ntz(spark):
    """The pre-reduction buckets a TIMESTAMP_NTZ series as its wall clock
    taken as UTC, never through the session time zone (New York here, so
    the fall-back hour 1971-10-31 01:00-02:00 would shift it): first and
    last points equal those of the TIMESTAMP twin at the same UTC
    instants."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    n = 3000
    base = int((datetime(1971, 10, 30) - datetime(1970, 1, 1)).total_seconds())
    us = (base + 60 * np.arange(n)) * 1_000_000
    y = np.sin(np.arange(n) / 50.0)
    ntz = spark.createDataFrame(
        pd.DataFrame({"x": pd.to_datetime(us, unit="us"), "y": y}),
        "x timestamp_ntz, y double",
    )
    ts = spark.createDataFrame(
        pd.DataFrame({"x": pd.to_datetime(us, unit="us", utc=True), "y": y}),
        "x timestamp, y double",
    )
    out_ntz = lttb.downsample_single_series(ntz, "x", ["y"], threshold=100, prefactor=4)
    out_ts = lttb.downsample_single_series(ts, "x", ["y"], threshold=100, prefactor=4)
    assert dict(out_ntz.dtypes)["x"] == "timestamp_ntz"
    wall = sorted(
        (r.x - datetime(1970, 1, 1)) // timedelta(microseconds=1) for r in out_ntz.collect()
    )
    inst = sorted(r.us for r in out_ts.select(F.unix_micros("x").alias("us")).collect())
    assert len(wall) == len(inst) == 100
    assert (wall[0], wall[-1]) == (inst[0], inst[-1])
