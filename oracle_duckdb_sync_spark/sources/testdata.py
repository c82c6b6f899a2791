"""Readers for the driver-provided ``/root/testdata/sf*`` parquet tables.

Handles one physical-format quirk: ``events.parquet`` stores its ``ts``
column as Parquet ``TIMESTAMP(NANOS)``, which Spark's reader rejects
([PARQUET_TYPE_ILLEGAL]). We flip the runtime conf
``spark.sql.legacy.parquet.nanosAsLong`` and rebuild a proper
``TimestampType`` column from the nanosecond epoch value
(microsecond truncation — exactly what DuckDB's µs timestamps do, so the
differential oracle sees identical instants).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via ``addPyFile``.

    Worker processes do not inherit the driver's ``sys.path``, so any
    plan that serializes a closure referencing package modules
    (``applyInPandas``/``mapInPandas`` in lttb/packing/multimodal) fails
    with ModuleNotFoundError when the driving process runs from a cwd
    other than the repo root. Zipping the package once per repo state
    and registering it with the SparkContext makes every session
    self-sufficient regardless of the harness's cwd or PYTHONPATH.
    """
    sc = spark.sparkContext
    if getattr(sc, "_odss_pkg_shipped", False):
        return
    sc.addPyFile(_ensure_pkg_zip())
    sc._odss_pkg_shipped = True


def _ensure_pkg_zip() -> str:
    """Build (or reuse) the worker package zip; returns its path.

    Safe under concurrent drivers (parallel pytest sessions): each
    builder writes a private per-process tmp name and ``os.replace``\\ s
    it in atomically, so no interleaved writes can publish a corrupted
    zip."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(repo_root, ".pkg", "oracle_duckdb_sync_spark.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(dirpath, f))
        for dirpath, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        import zipfile

        os.makedirs(os.path.dirname(zip_path), exist_ok=True)
        tmp = f"{zip_path}.tmp-{os.getpid()}-{time.monotonic_ns()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        rel = os.path.relpath(full, repo_root)
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    return zip_path


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns that may arrive as raw nanosecond longs (TIMESTAMP(NANOS) parquet)
_NANOS_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with timestamp normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # read `isAdjustedToUTC=false` parquet timestamps as TimestampType
    # (instants, DuckDB `epoch()` parity) — NOT TIMESTAMP_NTZ, whose
    # comparisons/epoch math would shift with the session timezone
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # runtime-settable AQE tweak for driver-owned sessions: coalesce
    # post-shuffle partitions by advisory size, not parallelism — small
    # shuffles collapse to few tasks, large ones still split by size
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    df = spark.read.parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            # integer division: epoch-nanos exceed double's 53-bit mantissa,
            # so `/ 1000` through double would be off by ±1 µs
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def utc_day_expr(c: str) -> F.Column:
    """UTC-day partition key from a TimestampType column, timezone-proof.

    ``to_date(ts)`` renders through the *session* timezone, so a table
    written under one tz and read under another would disagree on day
    boundaries (rows near midnight land in the "wrong" partition for the
    reader's predicate). Pure epoch arithmetic — floor(epoch_s / 86400)
    days since 1970 — yields the same DATE under every session tz.
    """
    return F.date_from_unix_date(
        F.floor(F.unix_seconds(F.col(c)) / F.lit(86400)).cast("int")
    )


def ensure_silver_events(spark: SparkSession, sf_dir: str, base_dir: str | None = None) -> str:
    """Write (once per testdata generation) the production-layout events
    table: native µs ``TimestampType`` ``ts`` + UTC-day ``event_date``
    partition directories.

    The driver's ``events.parquet`` stores TIMESTAMP(NANOS), which Spark
    reads as a raw long — the rebuilt ``ts`` column means watermark
    predicates evaluate post-scan (SCALE.md). This silver copy is the
    layout a production ingest would write, where the same predicate
    reaches ``PushedFilters`` (row-group pruning) AND, via the day key,
    ``PartitionFilters`` (directory pruning) — asserted in
    tests/test_plans.py. Returns the table path.
    """
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".silver")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "events")
    src = os.path.join(sf_dir, "events.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    e = load_table(spark, sf_dir, "events")
    (
        e.withColumn("event_date", utc_day_expr("ts"))
        .repartition("event_date")  # one task per day → few large files, not tasks×days
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    return path


def ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[tuple[int, list[float]]],
    base_dir: str | None = None,
) -> str:
    """Materialize (once per testdata generation) the cell-partitioned
    IVF inverted file for the sf's embeddings table — the persisted
    layout :func:`operators.similarity.ivf_topk_from_index` probes with
    directory pruning. Rebuilt when the source parquet is newer than the
    index marker. Returns the index path."""
    from ..operators.similarity import save_ivf_index

    # consumers of the persisted index include Python-kernel operators
    # (semantic_dedup_from_index's applyInPandas); ship the package even
    # on the marker-fresh path, where no load_table ever runs — without
    # this, an index-only first query from a neutral cwd fails to
    # unpickle the kernel on the workers (ModuleNotFoundError)
    ensure_package_on_workers(spark)
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".ivf")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    save_ivf_index(load_table(spark, sf_dir, "embeddings"), centroids, path)
    return path


def ensure_ivf_base_index(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[tuple[int, list[float]]],
    base_dir: str | None = None,
) -> str:
    """Materialize (once per testdata generation) a cell-partitioned
    IVF index over the EVEN-id half of the sf's embeddings — the
    persisted corpus the incremental semantic dedup probes with the
    odd-id half (mirrors :func:`ensure_minhash_store`'s even/odd
    split). Returns the index path."""
    from ..operators.similarity import save_ivf_index

    ensure_package_on_workers(spark)
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".ivf")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "embeddings_even")
    src = os.path.join(sf_dir, "embeddings.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    from pyspark.sql import functions as F

    even = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )
    save_ivf_index(even, centroids, path)
    return path


def ensure_minhash_store(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 32,
    shingle_k: int = 2,
    bands: int = 8,
    base_dir: str | None = None,
) -> str:
    """Materialize (once per testdata generation) a MinHash store
    (:func:`operators.dedup.save_minhash_store`) over the EVEN-id half of
    the sf's documents table — the persisted corpus the incremental
    near-dup contract (``dedup_minhash_incremental``) probes with the
    odd-id half as its "daily batch". Rebuilt when the source parquet is
    newer than the store marker. Returns the store path."""
    from ..operators.dedup import save_minhash_store

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".minhash_store")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "documents_even")
    src = os.path.join(sf_dir, "documents.parquet")
    marker = os.path.join(path, "bands", "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    docs = load_table(spark, sf_dir, "documents")
    save_minhash_store(
        docs.filter(F.col("doc_id") % 2 == 0),
        path,
        "doc_id",
        "text",
        num_perm,
        shingle_k,
        bands,
    )
    return path


def ensure_substring_store(
    spark: SparkSession,
    sf_dir: str,
    k: int = 6,
    base_dir: str | None = None,
) -> str:
    """Materialize (once per testdata generation) the k-word window-
    fingerprint store (:func:`operators.dedup.save_substring_store`)
    over the EVEN-id half of the sf's documents table — the persisted
    corpus the incremental exact-substring contract
    (``dedup_exact_substring_incr``) probes with the odd-id half as
    its "daily batch" (mirrors :func:`ensure_minhash_store`). Rebuilt
    when the source parquet is newer than the store marker. Returns
    the store path."""
    from ..operators.dedup import save_substring_store

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".substring_store")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "documents_even")
    src = os.path.join(sf_dir, "documents.parquet")
    marker = os.path.join(path, "fps", "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    docs = load_table(spark, sf_dir, "documents")
    save_substring_store(
        docs.filter(F.col("doc_id") % 2 == 0), path, "text", k=k
    )
    return path


def ensure_postings_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
) -> str:
    """Materialize (once per testdata generation) the bucket-partitioned
    inverted postings index over the sf's documents table — the
    persisted layout :func:`operators.retrieval.tfidf_topk_from_index`
    probes with directory pruning. Rebuilt when the source parquet is
    newer than the index marker. Returns the index path."""
    from ..operators.retrieval import save_postings_index

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".postings")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "documents")
    src = os.path.join(sf_dir, "documents.parquet")
    marker = os.path.join(path, "postings", "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path
    save_postings_index(load_table(spark, sf_dir, "documents"), path)
    return path


def ensure_pq_codes(
    spark: SparkSession,
    sf_dir: str,
    m: int = 8,
    k: int = 16,
    base_dir: str | None = None,
) -> tuple[str, list[list[list[float]]]]:
    """Materialize (once per testdata generation) the PQ-compressed
    code table for the sf's embeddings — the persisted form
    :func:`operators.similarity.pq_topk` scans (codes only, vectors
    never read). Codebooks retrain deterministically from the same
    data, so (path, codebooks) is a stable pair. Rebuilt when the
    source parquet is newer than the marker."""
    from ..operators.similarity import pq_encode, train_pq_codebooks

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = base_dir or os.path.join(repo_root, ".pq")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, "codes")
    src = os.path.join(sf_dir, "embeddings.parquet")
    marker = os.path.join(path, "_SUCCESS")
    books_path = os.path.join(base, sf_name, "codebooks.json")
    if (
        os.path.exists(marker)
        and os.path.exists(books_path)
        and os.path.getmtime(marker) >= os.path.getmtime(src)
    ):
        with open(books_path, encoding="utf-8") as f:
            return path, json.load(f)
    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=m, k=k)
    pq_encode(emb, books).write.mode("overwrite").parquet(path)
    tmp = f"{books_path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(books, f)
    os.replace(tmp, books_path)
    return path, books


def ensure_pq_codes_seeded(
    spark: SparkSession,
    sf_dir: str,
    m: int = 8,
    k: int = 16,
    perm: list[int] | None = None,
    base_dir: str | None = None,
) -> tuple[str, list[list[list[float]]]]:
    """Materialize (once per testdata generation) the PQ code table
    encoded with SEEDED codebooks (the first ``k`` corpus vectors,
    :func:`operators.similarity.pq_seed_codebooks`) — same persisted
    read shape as :func:`ensure_pq_codes` but with SQL-rederivable
    model parameters, so the registry probe entries carry a full
    value-level DuckDB oracle. ``perm`` selects the OPQ twin (codes
    encoded under the permutation rotation; separate directory)."""
    import pyarrow.parquet as papq

    from ..operators.similarity import (
        perm_rotation,
        pq_encode,
        pq_seed_codebooks,
    )

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    flavor = "codes-seeded" if perm is None else "codes-seeded-perm"
    base = base_dir or os.path.join(repo_root, ".pq")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(base, sf_name, flavor)
    src = os.path.join(sf_dir, "embeddings.parquet")
    tbl = papq.read_table(
        src, columns=["vec_id", "embedding"], filters=[("vec_id", "<", k)]
    ).sort_by("vec_id")
    seeds = [
        (int(i), [float(x) for x in v])
        for i, v in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())
    ]
    books = pq_seed_codebooks(seeds, m=m, perm=perm)
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src):
        return path, books
    rot = perm_rotation(perm) if perm is not None else None
    emb = load_table(spark, sf_dir, "embeddings")
    pq_encode(emb, books, rotation=rot).write.mode("overwrite").parquet(path)
    return path, books
