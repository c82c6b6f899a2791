"""Z-order (Morton-curve) data layout — multi-dimensional clustering
for scan pruning.

A date-partitioned warehouse prunes on ONE dimension; queries that
filter on a second column (user, device, key range) still open every
file of the day. Writing each partition's rows ordered along a Z-curve
over the hot filter columns makes every file cover a small hyper-box of
the key space, so parquet min/max statistics prune files/row-groups on
ANY of the interleaved dimensions — the same layout idea behind
Delta/Iceberg ``OPTIMIZE ZORDER BY`` (public engines), built here from
plain Spark primitives: a codegen bit-interleave expression +
``repartitionByRange`` + ``sortWithinPartitions``.

The reference has no analog (DuckDB stores one file and relies on
zonemap ordering by insertion); at 100 TB the layout IS the index.

Scale shape: computing the key is a map-side projection; the range
repartition samples the key distribution (one lightweight pass) and
then shuffles once into ``target_files`` sorted buckets. No UDFs, no
driver-side data movement beyond the optional min/max bounds probe
(one aggregate row).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def _quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into the integer grid [0, 2^bits): linear
    scale by the given bounds, truncate-cast, clamp. Out-of-bounds
    values clamp to the edge cells (they still sort adjacently)."""
    cells = (1 << bits) - 1
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
    q = (scaled * F.lit(float(cells))).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(cells), q))


def _effective_bits(bits: int | None, n: int) -> int:
    """Resolve the per-column Morton width: the key must fit a signed
    long, so widths above ``63 // n`` reduce to it. The default
    (``bits=None`` → 16) reduces silently — it's our number; an
    EXPLICIT out-of-range request still reduces (the documented
    auto-reduce contract) but emits a ``UserWarning`` so the caller
    learns their grid is coarser than they asked for instead of
    silently losing resolution."""
    cap = 63 // n
    if bits is None:
        return min(16, cap)
    if bits > cap:
        warnings.warn(
            f"zorder bits={bits} with {n} columns exceeds the 63-bit "
            f"signed-long key; reduced to {cap} bits per column",
            stacklevel=3,
        )
        return cap
    return bits


def zorder_key_expr(
    cols: Sequence[Column | str],
    bounds: Sequence[tuple[float, float]],
    bits: int | None = None,
) -> Column:
    """Morton key: interleave the ``bits``-wide quantized values of each
    column, bit i of column j landing at position ``i*ncols + j``. Pure
    integer codegen (shift/and/or chain). The key must fit a signed
    long, so when ``n_cols * bits > 63`` the per-column width
    auto-reduces to ``63 // n_cols`` (e.g. 4 columns at the default 16
    bits quantize at 15 bits each — a 2× coarser grid per dimension,
    which only matters once files are small enough to cover a single
    grid cell); an explicitly-passed out-of-range ``bits`` warns (see
    :func:`_effective_bits`). Bounds are caller-supplied literals
    (production: table statistics), so the expression is deterministic
    and pushdown-friendly on both engines."""
    n = len(cols)
    if not (1 <= n <= 4):
        raise ValueError("zorder interleaves 1-4 columns")
    bits = _effective_bits(bits, n)
    qs = [
        _quantize(F.col(c) if isinstance(c, str) else c, lo, hi, bits)
        for c, (lo, hi) in zip(cols, bounds)
    ]
    parts = [
        F.shiftleft(F.shiftright(qj, i).bitwiseAND(F.lit(1)), i * n + j)
        for i in range(bits)
        for j, qj in enumerate(qs)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_key_sql(
    cols: Sequence[str],
    bounds: Sequence[tuple[float, float]],
    bits: int | None = None,
) -> str:
    """DuckDB twin of :func:`zorder_key_expr` (same double scaling,
    truncate-cast, clamp, bit positions, and bits auto-reduction with
    the same explicit-request warning). The explicit ``trunc`` matters:
    DuckDB's double→BIGINT cast rounds to nearest while Spark's
    truncates toward zero."""
    n = len(cols)
    bits = _effective_bits(bits, n)
    cells = (1 << bits) - 1
    qs = []
    for c, (lo, hi) in zip(cols, bounds):
        scaled = f"((({c})::DOUBLE - {float(lo)}) / {float(hi - lo)})"
        q = f"CAST(trunc({scaled} * {float(cells)}) AS BIGINT)"
        qs.append(f"GREATEST(0, LEAST({cells}, {q}))")
    parts = [
        f"((({qj} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, qj in enumerate(qs)
    ]
    return "(" + " | ".join(parts) + ")"


def column_bounds(
    df: DataFrame,
    cols: Sequence[str],
    quantiles: tuple[float, float] | None = (0.01, 0.99),
) -> list[tuple[float, float]]:
    """Per-column quantization bounds in one cheap stats probe (a real
    deployment reads these from table metadata instead).

    Default is the (1%, 99%) approx-quantile window, NOT min/max: on a
    heavy-tailed column, min/max bounds squeeze almost all rows into a
    handful of low grid cells and the Z-curve loses that dimension
    entirely (measured here: a mid-range value predicate pruned only
    6% of files under min/max bounds vs ~10× better under quantile
    bounds — outliers simply clamp to the edge cells, which is
    harmless). Pass ``quantiles=None`` for exact min/max on known-
    uniform columns. Degenerate single-value columns widen by 1 so the
    scale factor stays finite."""
    if quantiles is not None:
        lo_q, hi_q = quantiles
        probe = df.select(
            *[F.col(c).cast("double").alias(f"__b{j}") for j, c in enumerate(cols)]
        )
        pairs = probe.approxQuantile(
            [f"__b{j}" for j in range(len(cols))], [lo_q, hi_q], 0.001
        )
        raw = [(p[0], p[1]) if p else (None, None) for p in pairs]
    else:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
        row = df.agg(*aggs).first()
        raw = [(row[2 * j], row[2 * j + 1]) for j in range(len(cols))]
    out = []
    for lo, hi in raw:
        lo = 0.0 if lo is None else float(lo)
        hi = lo + 1.0 if hi is None or float(hi) <= lo else float(hi)
        out.append((lo, hi))
    return out


def zorder_layout(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bounds: Sequence[tuple[float, float]] | None = None,
    target_files: int = 16,
    bits: int = 16,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Rewrite ``df`` at ``path`` clustered along the Z-curve of
    ``cols``: range-repartition on the Morton key into ``target_files``
    buckets (each file = one contiguous curve segment = one tight
    hyper-box), sort within each, drop the key, write. Combine with
    ``partition_cols`` for the date-partition + multi-dim-cluster
    layout a 100 TB warehouse wants."""
    bounds = list(bounds) if bounds is not None else column_bounds(df, cols)
    key = zorder_key_expr(list(cols), bounds, bits)
    out = (
        df.withColumn("__zkey", key)
        .repartitionByRange(target_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def file_prune_fraction(
    spark: SparkSession, path: str, col: str, lo: float, hi: float
) -> float:
    """Diagnostic: fraction of the table's parquet files whose
    [min, max] statistics for ``col`` intersect [lo, hi] — i.e. the
    share of files a stats-pruning reader must open for that predicate.
    Driver-side footer reads (O(files), metadata only)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        return 1.0
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                cc = md.row_group(rg).column(ci)
                if cc.path_in_schema != col or cc.statistics is None:
                    continue
                s = cc.statistics
                if s.min is not None:
                    fmin = s.min if fmin is None else min(fmin, s.min)
                if s.max is not None:
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if fmin is None or (float(fmax) >= lo and float(fmin) <= hi):
            hit += 1
    return hit / len(files)


def stats_manifest(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Per-file min/max/null statistics manifest — the poor-man's
    Iceberg manifest for a plain parquet warehouse. One row per data
    file with ``n_rows`` and ``<col>_min/_max/_nulls`` aggregated over
    its row groups.

    The file listing is driver-side (O(files) names, same cost as
    partition discovery); the footer reads are DISTRIBUTED — the paths
    round-robin across executors and each task reads only metadata
    footers (KBs per file), so building the manifest for a million-file
    table is a metadata-parallel job, not a scan. Combine with
    :func:`zorder_layout` (tight per-file boxes) and
    :func:`read_pruned` for manifest-driven scans."""
    import glob
    import os

    import pandas as pd

    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    cols = list(cols)
    schema = "file string, n_rows long, " + ", ".join(
        f"`{c}_min` double, `{c}_max` double, `{c}_nulls` long" for c in cols
    )
    if not files:
        return local_frame(spark, [], schema)
    par = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    fdf = local_frame(spark, [(f,) for f in files], "file string").repartition(par)

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for f in pdf["file"]:
                md = pq.ParquetFile(f).metadata
                rec: dict = {"file": f, "n_rows": md.num_rows}
                idx = {
                    md.schema.column(i).path: i for i in range(md.num_columns)
                }
                for c in cols:
                    lo = hi = None
                    nulls = 0
                    ci = idx.get(c)
                    for rg in range(md.num_row_groups):
                        if ci is None:
                            continue
                        st = md.row_group(rg).column(ci).statistics
                        if st is None:
                            continue
                        if st.min is not None:
                            v = float(st.min)
                            lo = v if lo is None else min(lo, v)
                        if st.max is not None:
                            v = float(st.max)
                            hi = v if hi is None else max(hi, v)
                        nulls += int(st.null_count or 0)
                    rec[f"{c}_min"], rec[f"{c}_max"] = lo, hi
                    rec[f"{c}_nulls"] = nulls
                out.append(rec)
            yield pd.DataFrame(out)

    return fdf.mapInPandas(read_footers, schema)


def read_pruned(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple[float, float]],
    manifest: DataFrame | None = None,
) -> DataFrame:
    """Manifest-driven scan: read ONLY the files whose stats intersect
    every ``col: (lo, hi)`` range (conjunctive), as a DataFrame rooted
    at ``path`` (``basePath`` keeps hive partition columns). Returns an
    empty frame with the table schema when nothing survives.

    This prunes at the FILE level before Spark ever lists a footer —
    the complement of row-group pushdown, and the piece that matters
    when a selective predicate would otherwise plan a million file
    splits. Caller still applies the exact predicate; a file whose
    stats intersect can hold non-matching rows."""
    m = manifest if manifest is not None else stats_manifest(spark, path, list(ranges))
    cond = None
    for c, (lo, hi) in ranges.items():
        k = (F.col(f"{c}_min").isNull()) | (
            (F.col(f"{c}_max") >= F.lit(float(lo)))
            & (F.col(f"{c}_min") <= F.lit(float(hi)))
        )
        cond = k if cond is None else (cond & k)
    keep = [r.file for r in m.filter(cond).select("file").collect()]
    if not keep:
        return spark.read.parquet(path).limit(0)
    return spark.read.option("basePath", path).parquet(*keep)
