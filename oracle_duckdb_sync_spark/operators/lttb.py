"""LTTB (Largest-Triangle-Three-Buckets) downsampling (reference I1-I4).

Reference: data/lttb.py:25-226 — NumPy LTTB with DataFrame dispatch,
multi-series index selection on the first y column (NaN → linear
interpolation), threshold default 5000 (ui/visualization.py:414-415).
Algorithm per Steinarsson, "Downsampling Time Series for Visual
Representation" (2013) — public.

Scale design (the reference is driver-only; we add distributed paths):
- :func:`lttb_pandas` / :func:`lttb_indices` — the sequential core.
  LTTB is inherently order-sequential (each pick depends on the previous
  one), so the core is per-partition NumPy, Arrow-batched.
- :func:`downsample` — per-series distributed LTTB via
  ``applyInPandas``: each series is one group (one shuffle on the series
  key), the sequential core runs per group in parallel executors.
- :func:`downsample_single_series` at 100 TB: a raw 100 TB single series
  cannot (and need not) be LTTB'd row-by-row — we first reduce
  distributed with a time-bucket mean to ``prefactor × threshold``
  points (windowed agg, fully parallel), then run exact LTTB on the
  bounded intermediate. Visual fidelity loss is negligible when
  ``prefactor ≥ 4`` (each LTTB bucket then spans ≥4 pre-aggregated
  points) and the result is identical to the reference for inputs that
  already fit the intermediate bound.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from ..config import LTTB_THRESHOLD


def lttb_indices(x: np.ndarray, y: np.ndarray, threshold: int) -> np.ndarray:
    """Indices of the LTTB-selected points (I1 core).

    Keeps first and last; picks, per bucket, the point maximizing the
    triangle area against the previously picked point and the next
    bucket's mean. ``threshold >= n`` or ``threshold <= 2`` → identity
    (dispatch rule at data/lttb.py:25-87).
    """
    n = len(x)
    if threshold >= n or threshold <= 2:
        return np.arange(n)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    every = (n - 2) / (threshold - 2)
    out = np.empty(threshold, dtype=np.int64)
    out[0] = 0
    out[-1] = n - 1
    a = 0
    for i in range(threshold - 2):
        # current bucket range
        rs = int(np.floor(i * every)) + 1
        re_ = int(np.floor((i + 1) * every)) + 1
        # next bucket mean (the "third point"); last bucket → final point
        ns = re_
        ne = min(int(np.floor((i + 2) * every)) + 1, n)
        avg_x = x[ns:ne].mean() if ne > ns else x[n - 1]
        avg_y = y[ns:ne].mean() if ne > ns else y[n - 1]
        bx = x[rs:re_]
        by = y[rs:re_]
        area = np.abs(
            (x[a] - avg_x) * (by - y[a]) - (x[a] - bx) * (avg_y - y[a])
        )
        a = rs + int(np.argmax(area))
        out[i + 1] = a
    return out


def lttb_pandas(
    pdf: pd.DataFrame,
    x_col: str,
    y_cols: Sequence[str],
    threshold: int = LTTB_THRESHOLD,
) -> pd.DataFrame:
    """Multi-series pandas LTTB (I2/I3 semantics).

    - sorts by ``x_col`` (order-sensitivity made explicit, SURVEY §4.3-4)
    - datetime x → int64 ns for the area arithmetic
    - indices selected on the FIRST y column; NaNs in it are linearly
      interpolated for selection only (data/lttb.py:163-226)
    - the same indices slice every y column (and x)
    """
    if len(pdf) == 0 or threshold >= len(pdf) or threshold <= 2:
        return pdf
    pdf = pdf.sort_values(by=x_col, kind="mergesort").reset_index(drop=True)
    x = pdf[x_col]
    if pd.api.types.is_datetime64_any_dtype(x):
        xv = x.astype("int64").to_numpy(dtype=np.float64)
    else:
        xv = x.to_numpy(dtype=np.float64)
    y0 = pd.to_numeric(pdf[y_cols[0]], errors="coerce")
    y0 = y0.interpolate(limit_direction="both").to_numpy(dtype=np.float64)
    idx = lttb_indices(xv, y0, threshold)
    return pdf.iloc[idx].reset_index(drop=True)


def _lttb_collected(slim, pdf: pd.DataFrame, x_col, y_cols, threshold):
    """Exact LTTB over ``slim``'s rows, already collected as ``pdf``."""
    out = lttb_pandas(pdf, x_col, y_cols, threshold)
    return slim.sparkSession.createDataFrame(out, schema=slim.schema)


def downsample(
    df,
    x_col: str,
    y_cols: Sequence[str],
    threshold: int = LTTB_THRESHOLD,
    series_col: str | None = None,
):
    """Distributed LTTB over a Spark DataFrame (I4 pipeline).

    With ``series_col``: one ``applyInPandas`` group per series — a
    single hash shuffle on the key; each group runs the sequential core
    in parallel across executors. Without it: the frame is treated as one
    series and must be bounded (use :func:`downsample_single_series` for
    unbounded inputs).
    """
    cols = [x_col, *y_cols] + ([series_col] if series_col else [])
    slim = df.select(*dict.fromkeys(cols))

    if series_col is None:
        return _lttb_collected(slim, slim.toPandas(), x_col, y_cols, threshold)

    def apply_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return lttb_pandas(pdf, x_col, y_cols, threshold)

    return slim.groupBy(series_col).applyInPandas(apply_group, schema=slim.schema)


def downsample_single_series(
    df,
    x_col: str,
    y_cols: Sequence[str],
    threshold: int = LTTB_THRESHOLD,
    prefactor: int = 4,
):
    """Scale path for one huge series: distributed pre-reduction, then
    exact LTTB on the bounded intermediate.

    One bounded probe, ``prefactor×threshold + 1`` rows collected once,
    picks the path: a series that fits goes straight to exact LTTB on the
    probed rows. Otherwise, stage 1 (distributed) buckets ``x`` into
    ``prefactor×threshold`` equal-width ranges and takes per-bucket
    means — a single hash aggregation, no sort — and stage 2 (driver)
    runs exact LTTB over ≤ ``prefactor×threshold`` rows.
    """
    from pyspark.sql import functions as F

    from .query import _timestamp_kind, epoch_micros, from_epoch_micros

    target = prefactor * threshold
    slim = df.select(*dict.fromkeys([x_col, *y_cols]))
    head = slim.limit(target + 1).toPandas()
    if len(head) <= target:
        return _lttb_collected(slim, head, x_col, y_cols, threshold)

    # instants and wall clocks bucket as epoch µs (Spark casts no
    # TIMESTAMP_NTZ to double) and come back as the same kind
    kind = _timestamp_kind(df, x_col)
    x = F.col(x_col)
    xv = (epoch_micros(x, kind) if kind else x).cast("double")
    stats = df.agg(F.min(xv).alias("lo"), F.max(xv).alias("hi")).first()
    lo, hi = stats["lo"], stats["hi"]
    span = (hi - lo) or 1.0
    bucket = F.least(
        F.floor((xv - F.lit(lo)) / F.lit(span) * target), F.lit(target - 1)
    )
    aggs = [F.avg(xv).alias(x_col)] + [
        F.avg(F.col(c).cast("double")).alias(c) for c in y_cols
    ]
    reduced = df.groupBy(bucket.alias("__b")).agg(*aggs).drop("__b")
    if kind:
        reduced = reduced.withColumn(
            x_col, from_epoch_micros(F.col(x_col).cast("long"), kind)
        )
    return downsample(reduced, x_col, y_cols, threshold)
