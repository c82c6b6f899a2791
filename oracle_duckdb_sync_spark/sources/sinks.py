"""Parquet table sinks: append, overwrite, upsert, delete, update,
compact (reference A12-A15, C1).

The reference's sink is DuckDB ``INSERT INTO t SELECT * FROM df``
(+ ``ON CONFLICT`` upsert, database/duckdb_source.py:74-142). On a
Parquet warehouse:

- **append** — ``df.write.mode("append")`` — Arrow-native columnar write,
  one file per task; the reference's claimed "100× faster than
  executemany" bulk path is simply how Spark always writes.
- **every rewrite** goes through one staged swap, where the reference
  has DuckDB transactions: the job writes ``<path>.__tmp-<run>`` and
  only then is it renamed into place, so a failed job leaves the table
  as it was. :func:`overwrite` swaps the whole table
  (:func:`_swap_table`; every unpartitioned rewrite calls it) and
  :func:`_rewrite_partitions` swaps only the partition directories a
  rewrite produced or emptied (:func:`_swap_partition_dirs`); those two
  helpers hold every rename. A process killed between two renames
  leaves the table under its backup name.
- **upsert** — left-anti join + union rewrite (SURVEY C1). With
  ``partition_cols`` the rewrite is **partition-scoped**: only the
  hive-style partition directories whose values appear in the new batch
  are read, merged, and swapped — every other partition's files are
  left untouched on disk. That matches the economics of the reference's
  in-place ``ON CONFLICT`` (database/duckdb_source.py:114-131): an
  incremental batch touching one day of a year-partitioned 100 TB table
  rewrites 1/365th of it, not all of it.

The rewrites need a driver-local path and raise ValueError on a remote
URI; :func:`overwrite` writes one through Spark directly.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import upsert as upsert_op
from ..session import local_frame
from .fs import _looks_remote, _strip_file_scheme

# swap-staging siblings ``<path><suffix><run>``: the staged rewrite, the
# whole table it replaced, the partition dirs it replaced
_TMP, _OLD, _BAK = ".__tmp-", ".__old-", ".__bak-"

# Above this many touched partition tuples the scope predicate switches
# from a folded literal OR-chain (static partition pruning, zero extra
# plan nodes) to a broadcast left-semi join (bounded plan size; dynamic
# partition pruning prunes the scan). A 10⁴-partition DELETE would
# otherwise fold a 10⁴-way boolean tree into the plan.
_SCOPE_LITERAL_MAX = 64


def _scope_to_partitions(
    spark: SparkSession, df: DataFrame, touched: list, pcols: Sequence[str]
) -> DataFrame:
    """Restrict ``df`` to the hive partitions whose (string-form) values
    appear in ``touched`` (collected Rows, one per partition tuple).
    NULL partition values match via null-safe equality (the
    ``__HIVE_DEFAULT_PARTITION__`` directory)."""
    if len(touched) <= _SCOPE_LITERAL_MAX:
        cond = reduce(
            lambda a, b: a | b,
            (
                reduce(
                    lambda a, b: a & b,
                    (F.col(c).eqNullSafe(F.lit(row[c])) for c in pcols),
                )
                for row in touched
            ),
        )
        return df.filter(cond)
    tdf = local_frame(
        spark,
        [tuple(row[c] for c in pcols) for row in touched],
        df.select(*pcols).schema,
    )
    cond = reduce(
        lambda a, b: a & b, (df[c].eqNullSafe(tdf[c]) for c in pcols)
    )
    return df.join(F.broadcast(tdf), cond, "left_semi")


# the characters Hive/Spark escape in partition directory names
# (ExternalCatalogUtils.escapePathName): ASCII control chars plus the
# path/URI-special set. A value like ``a/b`` must address the directory
# ``col=a%2Fb``, never a nested path.
_PATH_ESCAPE_CHARS = (
    set('"#%\'*/:=?\\{[]^')
    | {chr(i) for i in range(0x20)}
    | {chr(0x7F)}
)


def _escape_path_name(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in value
    )


def _unescape_path_name(name: str) -> str:
    import re as _re

    return _re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _partition_rel(row, pcols: Sequence[str]) -> str:
    """Hive-style relative directory path for one touched partition
    tuple, with values escaped exactly as Spark's writer escapes them
    (null → ``__HIVE_DEFAULT_PARTITION__``)."""
    return "/".join(
        f"{c}=__HIVE_DEFAULT_PARTITION__"
        if row[c] is None
        else f"{c}={_escape_path_name(str(row[c]))}"
        for c in pcols
    )


def append(df: DataFrame, path: str, partition_cols: Sequence[str] | None = None) -> None:
    """A12 batch append sink."""
    w = df.write.mode("append")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def overwrite(df: DataFrame, path: str, partition_cols: Sequence[str] | None = None) -> None:
    """Replace the table at ``path`` by ``df``, which may read ``path``.

    Locally ``df`` is written to ``<path>.__tmp-<run>`` and
    :func:`_swap_table` renames it into place, so a failed job leaves
    the previous table readable (Spark's own overwrite deletes it
    first); cached plans over ``path`` are then refreshed, as Spark's
    own overwrite does. A remote URI is written by Spark directly."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if _looks_remote(path):
        w.parquet(path)
        return
    path, run = _strip_file_scheme(path), uuid.uuid4().hex[:8]
    w.parquet(f"{path}{_TMP}{run}")
    _swap_table(path, f"{path}{_TMP}{run}", f"{path}{_OLD}{run}")
    df.sparkSession.catalog.refreshByPath(path)


def _swap_table(path: str, tmp: str, old: str) -> None:
    """Rename the staged table ``tmp`` to ``path``. A table already at
    ``path`` moves to ``old`` first and is put back if the second rename
    fails, so an exception never leaves ``path`` missing; ``old`` is
    removed once the swap is done."""
    if not os.path.exists(path):
        os.rename(tmp, path)
        return
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)


def _rewrite_partitions(df: DataFrame, path: str, pcols, scope=()) -> None:
    """Partition-scoped staged swap: write ``df`` hive-partitioned to
    ``<path>.__tmp-<run>``, then swap every partition dir it produced
    into the table. A dir named in ``scope`` (relative, as
    :func:`_partition_rel` spells it) that the write did not produce —
    every row of it deleted — is removed from the table by the same
    swap. Partitions outside both are never touched."""
    run = uuid.uuid4().hex[:8]
    tmp, bak = f"{path}{_TMP}{run}", f"{path}{_BAK}{run}"
    df.write.mode("overwrite").partitionBy(*pcols).parquet(tmp)
    rels = sorted(set(_partition_dirs(tmp, depth=len(pcols))) | set(scope))
    _swap_partition_dirs(path, tmp, bak, rels)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(bak, ignore_errors=True)
    df.sparkSession.catalog.refreshByPath(path)


def _local_path(path: str) -> str:
    """``path`` as the driver-local path a rewrite probes and renames
    under (a ``file:`` scheme dropped). An ``os.path`` probe answers
    False for a URI, which would send an upsert down the table-absent
    branch and replace the table by the batch: a remote URI raises."""
    if _looks_remote(path):
        raise ValueError(
            f"parquet rewrites swap directories by renaming them and need "
            f"a driver-local path, not {path!r}"
        )
    return _strip_file_scheme(path)


def delta_available() -> bool:
    """True when the delta-spark package (and so ``MERGE INTO``) is
    importable in this environment."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Apache Iceberg Spark runtime jar is on the JVM
    classpath (``iceberg-spark-runtime``). Unlike Delta, Iceberg's
    Python surface is pure SQL — availability is a JVM class probe, not
    a Python import. Limitation: on a Spark Connect session there is no
    ``spark._jvm`` gateway, so the probe returns a FALSE NEGATIVE even
    when the server has the jar — callers on Connect should check
    server-side (e.g. try a no-op Iceberg SQL) or pass
    ``table_format='iceberg'`` knowingly."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def upsert(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: Sequence[str],
    broadcast_new: bool = True,
    partition_cols: Sequence[str] | None = None,
    table_format: str = "auto",
    merge_schema: bool = False,
    table_identifier: str | None = None,
) -> None:
    """A13/C1 UPSERT sink through the staged swap.

    ``table_format`` selects the storage engine behind the same
    signature:

    - ``"delta"`` — transactional ``MERGE INTO`` via delta-spark
      (raises if the package is absent). ACID for concurrent readers
      (no swap window at all) and key-matched table-wide, so a row
      whose partition value changes is updated in place rather than
      leaving a stale copy — the two documented caveats of the parquet
      swap, which the reference gets for free from DuckDB transactions
      (database/duckdb_source.py:114-131).
    - ``"parquet"`` — the swap implementation below; needs a
      driver-local path (ValueError on a remote URI).
    - ``"auto"`` (default) — ``delta`` when the package is importable
      AND the target is already a Delta table (or absent, in which case
      plain parquet is written); otherwise parquet. Existing parquet
      warehouses never silently change format.

    An absent table is written by :func:`overwrite` from ``new`` alone.

    Unpartitioned (``partition_cols=None``): the merge (old anti-join
    new ∪ new) replaces the table through :func:`overwrite`'s whole-table
    swap. The swap window is the only non-atomic instant and is
    process-local — the reference relies on DuckDB transactions for the
    same guarantee.

    Partitioned: only the partitions whose values appear in ``new`` are
    read (literal predicates on the partition columns → static partition
    pruning at the scan), merged, and swapped directory-by-directory by
    :func:`_rewrite_partitions`; files of untouched partitions are never
    opened or rewritten.
    Partition columns are canonicalized to their on-disk **string** form
    (Hive semantics: a partition value IS the directory-name string): the
    current table is read with partition-type inference disabled and the
    batch's partition columns are cast to string, so directory names
    round-trip byte-identically — a ``DAY=01`` directory is merged and
    swapped as ``DAY=01``, never re-inferred to int and rewritten as a
    stale-duplicating ``DAY=1``.
    ``merge_schema=True`` accepts schema evolution (the reference's
    ``ALTER TABLE`` + ``ON CONFLICT`` shape): a batch may add columns —
    old rows read NULL for them — or omit existing ones. Touched
    partitions are rewritten with the union schema; untouched partition
    files keep their original schema (standard parquet evolution), so
    downstream readers of an evolved table should read with
    ``mergeSchema=true``. Default off: accidental drift fails loudly.
    Constraint (same as Delta ``replaceWhere`` / Hive dynamic-partition
    upserts): a key's partition value must be stable — a "moved" row
    would leave its old copy in the old partition, since that partition
    is by design never read.
    Failure atomicity: replaced partition dirs are staged in a sibling
    backup dir *outside* the table root (so concurrent partition
    discovery never sees them), and on any swap failure every completed
    swap is rolled back from backup — the table is never left missing a
    partition, and the merged tmp dir is left on disk for inspection.
    """
    if table_format not in ("auto", "parquet", "delta", "iceberg"):
        raise ValueError(f"unknown table_format: {table_format!r}")
    if table_format == "iceberg":
        # argument validation first — it must not depend on the environment
        if not table_identifier:
            raise ValueError(
                "table_format='iceberg' upserts via SQL MERGE INTO and "
                "needs table_identifier='catalog.db.table'"
            )
        if merge_schema:
            raise ValueError(
                "merge_schema is not supported for table_format='iceberg'; "
                "evolve the Iceberg schema with ALTER TABLE ... ADD COLUMN "
                "before the upsert (Iceberg tracks schema in the catalog)"
            )
        if not iceberg_available(spark):
            raise RuntimeError(
                "table_format='iceberg' requires the iceberg-spark-runtime "
                "jar on the Spark classpath (e.g. --packages org.apache."
                "iceberg:iceberg-spark-runtime-3.5_2.13) and an Iceberg "
                "catalog configured on the session"
            )
        # path/broadcast_new are parquet-swap knobs: the Iceberg route is
        # catalog-addressed and MERGE INTO picks its own join strategy
        _upsert_iceberg(spark, new, table_identifier, keys, partition_cols)
        return
    if table_format == "delta" or (
        table_format == "auto" and delta_available() and _is_delta_table(spark, path)
    ):
        _upsert_delta(spark, new, path, keys, partition_cols)
        return
    path = _local_path(path)
    if not os.path.isdir(path):
        overwrite(new, path, partition_cols)
        return
    if not partition_cols:
        old = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)
        overwrite(
            upsert_op(
                old, new, keys,
                broadcast_new=broadcast_new,
                allow_missing_columns=merge_schema,
            ),
            path,
        )
        return

    pcols = list(partition_cols)
    # canonicalize partition values to their directory-name string form on
    # both sides: inference-off read keeps old's values as written on disk,
    # and the batch is cast to match, so the union never coerces and the
    # rewritten directory names are byte-identical to the originals
    old = _read_partition_strings(spark, path, merge_schema=merge_schema)
    for c in pcols:
        new = new.withColumn(c, F.col(c).cast("string"))
    # distinct partition tuples in the batch — bounded by partitions
    # touched per batch (days per sync cycle), not by data volume
    touched = new.select(*pcols).distinct().collect()
    if not touched:
        return
    _rewrite_partitions(
        upsert_op(
            _scope_to_partitions(spark, old, touched, pcols), new, keys,
            broadcast_new=broadcast_new,
            allow_missing_columns=merge_schema,
        ),
        path,
        pcols,
    )


def _swap_partition_dirs(path: str, tmp: str, bak: str, rels: list[str]) -> None:
    """Swap the given hive-style partition dirs from ``tmp`` into the
    table at ``path``, staging replaced originals in the sibling backup
    dir ``bak`` (outside the table root, so concurrent partition
    discovery never sees them); a dir absent from ``tmp`` is only staged
    out. On any failure every completed swap is rolled back (newest
    first) and ``tmp`` is left on disk — the table is never missing a
    partition. Listing-relative paths sidestep value-escaping: names
    like ``day=2024-01-01`` or ``lang=__HIVE_DEFAULT_PARTITION__`` are
    taken as written."""
    staged: list[tuple[str, str | None]] = []  # (dst, backup-or-None)
    try:
        for rel in rels:
            src = os.path.join(tmp, rel)
            dst = os.path.join(path, rel)
            backup = None
            if os.path.isdir(dst):
                backup = os.path.join(bak, rel)
                os.makedirs(os.path.dirname(backup), exist_ok=True)
                os.rename(dst, backup)
            staged.append((dst, backup))
            if os.path.isdir(src):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
    except BaseException:
        # roll back every staged swap (newest first): drop whatever landed
        # at dst, put the original partition back; tmp is kept on disk so
        # the merged data is never lost
        for dst, backup in reversed(staged):
            shutil.rmtree(dst, ignore_errors=True)
            if backup is not None and os.path.isdir(backup):
                os.rename(backup, dst)
        raise


def _is_delta_table(spark: SparkSession, path: str) -> bool:
    from delta.tables import DeltaTable

    return DeltaTable.isDeltaTable(spark, path)


def _upsert_delta(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Transactional upsert: Delta Lake ``MERGE INTO`` on the key
    columns. Commits are ACID (readers see the pre- or post-merge
    snapshot, never an in-between state) and matching is table-wide, so
    the parquet path's moved-key constraint does not apply. Delta prunes
    candidate files from the merge condition's key ranges; for
    partition-stable keys callers can additionally bound the scan by
    including the partition columns in ``keys``.

    Requires delta-spark (``pip install delta-spark``) and a session
    with the Delta SQL extension + catalog configured; import is guarded
    at the call site via :func:`delta_available`.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as e:  # pragma: no cover - exercised via stub in tests
        raise ImportError(
            "table_format='delta' requires the delta-spark package "
            "(pip install delta-spark) and a Delta-enabled SparkSession"
        ) from e

    if not DeltaTable.isDeltaTable(spark, path):
        w = new.write.format("delta").mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.save(path)
        return
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(new.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def _upsert_iceberg(
    spark: SparkSession,
    new: DataFrame,
    table_identifier: str,
    keys: Sequence[str],
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Transactional upsert on an Apache Iceberg table: ANSI
    ``MERGE INTO`` over the key columns (null-safe match). Same ACID
    guarantees as the Delta path — snapshot-isolated commit, table-wide
    key matching (no moved-key constraint) — through Iceberg's SQL
    surface, so the only requirement is the runtime jar + a configured
    catalog; there is no Python package to import.

    Bootstrap parity with the parquet/delta routes: when the table does
    not exist yet it is CREATEd from the batch (DataFrameWriterV2,
    ``partitionedBy`` honoring ``partition_cols``) instead of failing
    with a raw ``TABLE_OR_VIEW_NOT_FOUND`` from MERGE. The new batch is
    exposed to SQL through a session-scoped temp view that is dropped
    even on failure."""
    try:
        exists = spark.catalog.tableExists(table_identifier)
    except Exception:
        # existence probe can fail client-side (catalog not resolvable,
        # Connect quirks) — fall through and let MERGE surface the real
        # catalog error instead of masking it with the probe's
        exists = True
    if not exists:
        w = new.writeTo(table_identifier).using("iceberg")
        if partition_cols:
            w = w.partitionedBy(*[F.col(c) for c in partition_cols])
        w.create()
        return
    src = f"__ods_merge_src_{uuid.uuid4().hex[:8]}"
    new.createOrReplaceTempView(src)
    try:
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        spark.sql(
            f"MERGE INTO {table_identifier} t USING {src} s ON {cond} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        try:
            spark.catalog.dropTempView(src)
        except Exception:
            pass  # view cleanup must never mask the MERGE's own error


def _read_partition_strings(
    spark: SparkSession,
    path: str,
    merge_schema: bool = False,
    dirs: Sequence[str] = (),
) -> DataFrame:
    """Read a hive-partitioned parquet table with partition-column type
    inference disabled, so partition values stay the exact strings written
    in the directory names (``DAY=01`` → ``'01'``, not int ``1``). With
    ``dirs`` (relative partition dirs) only those are read; ``basePath``
    keeps their partition columns."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        # partition discovery (and thus the inference conf) is resolved
        # eagerly here, at DataFrame creation
        reader = spark.read.option("mergeSchema", str(merge_schema).lower())
        if dirs:
            return reader.option("basePath", path).parquet(
                *[os.path.join(path, rel) for rel in dirs]
            )
        return reader.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _partition_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the hive-style leaf partition dirs under ``root``
    (``col=value`` components, exactly ``depth`` levels deep)."""
    out: list[str] = []

    def walk(cur: str, level: int) -> None:
        for name in sorted(os.listdir(cur)):
            full = os.path.join(cur, name)
            if not (os.path.isdir(full) and "=" in name):
                continue
            rel = os.path.relpath(full, root)
            if level + 1 == depth:
                out.append(rel)
            else:
                walk(full, level + 1)

    walk(root, 0)
    return out


def _data_files(d: str) -> list[str]:
    """Parquet data files directly under ``d`` (no metadata/hidden files)."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return [
        os.path.join(d, n)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str] | None = None,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    zorder_cols: Sequence[str] | None = None,
    zorder_bounds: Sequence[tuple[float, float]] | None = None,
) -> dict[str, int]:
    """Small-file compaction for a parquet warehouse table — the
    maintenance job an incremental-append pipeline needs at scale. The
    reference never does: DuckDB stores a table as one file
    (database/duckdb_source.py), but a 100 TB warehouse fed by
    :func:`append`/:func:`upsert` accumulates one file per task per
    batch, and a year of hourly syncs turns a partition into thousands
    of kilobyte files whose open/footer costs dominate every scan.

    Per partition directory (the table root when unpartitioned): when
    the dir holds ≥ ``min_files`` data files AND more files than
    ``ceil(total_bytes / target_file_bytes)``, its rows are rewritten
    into that many files. All flagged partitions rewrite in ONE Spark
    job — the scan reads only flagged directories (everything else is
    never opened), rows shuffle once keyed on (partition values, chunk)
    where chunk spreads a partition across its per-partition file
    budget, and the results swap in through the same staged swap as
    :func:`upsert` (:func:`_rewrite_partitions`; :func:`overwrite` when
    unpartitioned), so readers never see a partition missing and a
    failure rolls back cleanly.

    The driver-side work is one file listing per partition (O(dirs),
    the same scale as partition discovery itself); at metastore scale
    the flagged list would come from table manifests instead. Returns
    ``{"partitions_compacted", "files_before", "files_after"}``
    (file counts over flagged partitions only).

    ``zorder_cols`` turns the rewrite into the ``OPTIMIZE ZORDER``
    maintenance job (Delta/Iceberg's layout pass, built from the same
    primitives as :mod:`..operators.layout`): instead of hash-chunking,
    each partition's rows split at per-partition approx quantiles of
    the Morton key and sort within tasks, so every rewritten file
    covers a tight zkey-contiguous hyper-box of the clustered columns
    and min/max stats prune on any of them. Budgets are honored per
    partition (never straddling hive boundaries), so repeated
    maintenance runs converge — a compacted partition is not
    re-flagged on the next run.
    ``zorder_bounds`` as in :func:`..operators.layout.zorder_layout`
    (default: 1%/99% quantile probe over the flagged rows).
    """
    path = _local_path(path)
    if not os.path.isdir(path):
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
    pcols = list(partition_cols or [])

    def n_target(files: list[str]) -> int:
        total = sum(os.path.getsize(f) for f in files)
        return max(1, -(-total // target_file_bytes))

    if not pcols:
        files = _data_files(path)
        want = n_target(files)
        if len(files) < min_files or len(files) <= want:
            return {
                "partitions_compacted": 0,
                "files_before": len(files),
                "files_after": len(files),
            }
        df = spark.read.parquet(path)
        overwrite(_cluster_rewrite(df, want, zorder_cols, zorder_bounds), path)
        return {
            "partitions_compacted": 1,
            "files_before": len(files),
            "files_after": len(_data_files(path)),
        }

    flagged: dict[str, int] = {}  # rel partition dir -> target file count
    files_before = 0
    for rel in _partition_dirs(path, depth=len(pcols)):
        files = _data_files(os.path.join(path, rel))
        want = n_target(files)
        if len(files) >= min_files and len(files) > want:
            flagged[rel] = want
            files_before += len(files)
    if not flagged:
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    # one job over exactly the flagged directories: basePath keeps the
    # partition columns (as their on-disk strings) while the explicit dir
    # list prunes everything else from ever being opened
    df = _read_partition_strings(spark, path, dirs=list(flagged))
    n_files_total = sum(flagged.values())
    # per-partition file budget as one broadcastable literal lookup; map
    # keys are built from the dir names with the on-disk escaping undone
    # so they match the column-value expression below (a ``source=a%2Fb``
    # directory keys as ``source=a/b``, and a null value reads back as
    # the Hive default marker string under inference-off)
    rel_expr = F.concat_ws(
        "/",
        *[
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(
                    F.col(c).cast("string"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
            for c in pcols
        ],
    )

    def _rel_values(rel: str) -> str:
        return "/".join(
            f"{comp.split('=', 1)[0]}={_unescape_path_name(comp.split('=', 1)[1])}"
            for comp in rel.split("/")
        )

    budget = F.create_map(
        *[F.lit(x) for rel, want in flagged.items() for x in (_rel_values(rel), want)]
    )
    if zorder_cols:
        # OPTIMIZE ZORDER rewrite, scoped per partition so the budgets
        # are honored exactly and scheduled maintenance CONVERGES: a
        # global repartitionByRange on (partition values, Morton key)
        # lets range buckets straddle hive-partition boundaries, leaving
        # flagged partitions above budget and re-flagged forever. Here
        # each partition's rows split at the approx quantiles of the
        # Morton key (one partial-aggregated probe, one broadcast join),
        # so every partition lands in exactly its budgeted number of
        # zkey-contiguous files and the next compact() run flags nothing.
        from ..operators import layout as LAY

        bounds = (
            list(zorder_bounds)
            if zorder_bounds is not None
            else LAY.column_bounds(df, zorder_cols)
        )
        keyed = df.withColumn(
            "__zkey", LAY.zorder_key_expr(list(zorder_cols), bounds)
        )
        K = max(flagged.values())
        if K == 1:
            joined = keyed.withColumn("__bucket", F.lit(0))
        else:
            fracs = [i / K for i in range(1, K)]
            bnds = keyed.groupBy(*pcols).agg(
                F.percentile_approx("__zkey", fracs, 10000).alias("__bnds")
            )
            bnds = bnds.select(
                *[F.col(c).alias(f"__p_{c}") for c in pcols], "__bnds"
            )
            jcond = reduce(
                lambda a, b: a & b,
                (keyed[c].eqNullSafe(bnds[f"__p_{c}"]) for c in pcols),
            )
            joined = (
                keyed.join(F.broadcast(bnds), jcond)
                .withColumn(
                    "__bucket",
                    F.aggregate(
                        "__bnds",
                        F.lit(0),
                        lambda acc, b: acc
                        + F.when(F.col("__zkey") > b, 1).otherwise(0),
                    ),
                )
                .drop("__bnds", *[f"__p_{c}" for c in pcols])
            )
        # K quantile buckets fold onto this partition's budget w≤K files
        chunk = F.floor(F.col("__bucket") * budget[rel_expr] / F.lit(K))
        out = (
            joined.withColumn("__chunk", chunk)
            .repartition(n_files_total, *pcols, F.col("__chunk"))
            .sortWithinPartitions(*pcols, "__zkey")
            .drop("__zkey", "__bucket", "__chunk")
        )
    else:
        chunked = df.withColumn(
            "__chunk",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), budget[rel_expr]),
        )
        out = chunked.repartition(
            n_files_total, *pcols, F.col("__chunk")
        ).drop("__chunk")
    # scoped to the flagged dirs: one whose files held zero rows produces
    # no dir (the dynamic write skips empty partitions) and goes, and so
    # does one whose name the writer re-escapes differently
    _rewrite_partitions(out, path, pcols, scope=list(flagged))
    files_after = sum(
        len(_data_files(os.path.join(path, rel))) for rel in flagged
    )
    return {
        "partitions_compacted": len(flagged),
        "files_before": files_before,
        "files_after": files_after,
    }


def _cluster_rewrite(
    df: DataFrame,
    n_files: int,
    zorder_cols: Sequence[str] | None,
    zorder_bounds: Sequence[tuple[float, float]] | None,
) -> DataFrame:
    """Unpartitioned compaction rewrite shape: plain ``coalesce``
    without clustering (narrow, no shuffle); with ``zorder_cols`` a range
    repartition on the Morton key + in-task sort, so files land as
    contiguous curve segments."""
    if not zorder_cols:
        return df.coalesce(n_files)
    from ..operators import layout as LAY

    bounds = (
        list(zorder_bounds)
        if zorder_bounds is not None
        else LAY.column_bounds(df, zorder_cols)
    )
    zkey = LAY.zorder_key_expr(list(zorder_cols), bounds)
    return (
        df.withColumn("__zkey", zkey)
        .repartitionByRange(max(1, n_files), F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


def vacuum_orphans(
    path: str,
    min_age_seconds: float = 24 * 3600.0,
) -> list[str]:
    """Remove orphaned swap-staging siblings of a table —
    ``<path>.__tmp-*`` / ``.__bak-*`` / ``.__old-*`` directories left
    behind when a rewrite's job failed mid-write, or a rewrite crashed
    BETWEEN staging and cleanup (the rollback deliberately keeps tmp on
    disk for inspection).

    Age-gated (mtime older than ``min_age_seconds``) so a concurrently
    running swap's live staging dirs are never touched; the default
    24 h is far beyond any single job's staging window. Returns the
    removed paths. This is the warehouse-GC companion to
    :func:`compact` — on a real deployment it runs from the same
    maintenance schedule."""
    import time

    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(os.path.abspath(path).rstrip("/"))
    removed: list[str] = []
    now = time.time()
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return removed
    for name in names:
        if not name.startswith(tuple(base + s for s in (_TMP, _BAK, _OLD))):
            continue
        full = os.path.join(parent, name)
        try:
            if not os.path.isdir(full):
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
        except OSError:
            continue
    return removed


def _matched_partitions(old: DataFrame, matches, pcols: Sequence[str]) -> list:
    """The partition tuples holding rows where ``matches`` is TRUE, each
    with its matched-row count in ``__n`` (one row, maybe 0, when
    ``pcols`` is empty) — one job."""
    return (
        old.filter(matches).groupBy(*pcols).agg(F.count(F.lit(1)).alias("__n")).collect()
    )


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Warehouse DELETE: remove the rows where ``condition`` evaluates
    TRUE (SQL DELETE semantics — NULL keeps the row) and return the
    deleted count. The reference's ``DELETE FROM`` runs inside DuckDB
    (repository/sync_log_repo.py:280-303); on a parquet warehouse a
    delete is a rewrite, so the job is shaped like :func:`upsert`:

    - Unpartitioned: one counting job, then the kept rows replace the
      table through :func:`overwrite`.
    - Partitioned: ONE job finds and counts the matching rows per
      partition tuple (when the condition references the partition
      columns, Catalyst prunes that scan to the candidate directories),
      then ONLY those partitions are rewritten and swapped by
      :func:`_rewrite_partitions`; untouched partitions' files are never
      opened. A partition whose every row matches is removed entirely
      (its directory staged to backup, GC'd with the run's staging
      dirs).

    GDPR/retention economics at 100 TB: deleting one user or one
    expired day touches the partitions holding those rows, not the
    table. Re-running after a mid-run failure is safe — deletion is
    idempotent (remaining matches are simply deleted then).
    """
    path = _local_path(path)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    matches = F.coalesce(cond.cast("boolean"), F.lit(False))
    if not os.path.isdir(path):
        return 0
    pcols = list(partition_cols or [])
    old = _read_partition_strings(spark, path) if pcols else spark.read.parquet(path)
    touched = _matched_partitions(old, matches, pcols)
    n = sum(row["__n"] for row in touched)
    if n and not pcols:
        overwrite(old.filter(~matches), path)
    elif n:
        _rewrite_partitions(
            _scope_to_partitions(spark, old, touched, pcols).filter(~matches),
            path,
            pcols,
            # directory names from the touched values, escaped as Spark's
            # writer escapes them: the ones no kept row fills are removed
            scope=[_partition_rel(row, pcols) for row in touched],
        )
    return n


def update_where(
    spark: SparkSession,
    path: str,
    condition,
    assignments: dict,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Warehouse UPDATE: set ``assignments`` (column → Column/SQL
    expression, evaluated against the pre-update row) on the rows where
    ``condition`` is TRUE; returns the updated count. SQL semantics:
    NULL condition leaves the row unchanged.

    Same partition economics as :func:`delete_where`: one job finds and
    counts the partitions holding matching rows, only those rewrite
    through the staged swap, untouched partitions' files are never
    opened. Updating a partition column is rejected — that is a
    row MOVE between directories; express it as delete+append (or use
    the Delta path, where MERGE handles it transactionally).
    """
    path = _local_path(path)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    matches = F.coalesce(cond.cast("boolean"), F.lit(False))
    pcols = list(partition_cols or [])
    bad = [c for c in assignments if c in pcols]
    if bad:
        raise ValueError(
            f"cannot update partition column(s) {bad}: a changed partition "
            "value moves the row between directories — delete+append instead"
        )
    if not os.path.isdir(path):
        return 0
    old = _read_partition_strings(spark, path) if pcols else spark.read.parquet(path)
    # SQL UPDATE errors on an unknown column; silently skipping a typo'd
    # assignment would rewrite the touched partitions with no change yet
    # report a positive updated count
    unknown = sorted(set(assignments) - set(old.columns))
    if unknown:
        raise ValueError(
            f"unknown column(s) in UPDATE assignments: {unknown}; "
            f"table columns: {old.columns}"
        )

    def apply_set(df: DataFrame) -> DataFrame:
        # ONE select, not chained withColumn: every assignment (and the
        # condition) must see the PRE-update row — SQL UPDATE semantics,
        # where `SET a = b, b = a` swaps instead of clobbering
        cols = []
        for c in df.columns:
            if c in assignments:
                val = assignments[c]
                v = F.expr(val) if isinstance(val, str) else val
                cols.append(F.when(matches, v).otherwise(F.col(c)).alias(c))
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    touched = _matched_partitions(old, matches, pcols)
    n = sum(row["__n"] for row in touched)
    if n and not pcols:
        overwrite(apply_set(old), path)
    elif n:
        scoped = _scope_to_partitions(spark, old, touched, pcols)
        _rewrite_partitions(apply_set(scoped), path, pcols)
    return n
