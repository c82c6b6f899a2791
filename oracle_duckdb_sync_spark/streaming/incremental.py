"""Structured Streaming: the idiomatic upgrade of the reference's
hand-rolled incremental machinery (reference H1-H6).

Reference → Spark mapping:
- H1 incremental source read (data/incremental_loader.py:58-137)
  → ``readStream`` file source; checkpointed offsets replace the JSON
  watermark (the engine no longer tracks "last_timestamp" by hand)
- H2 watermark state saved-on-success (database/sync_engine.py:205-235)
  → exactly-once via checkpoint + idempotent ``foreachBatch`` sink
- H6 late/duplicate handling (INSERT-only + post-hoc dedup)
  → ``withWatermark`` bounds lateness declaratively;
    ``dropDuplicates`` inside the stream is state-store backed
- D1/D2 time-bucket aggregate → windowed streaming aggregation with
  the same tumbling semantics as the batch operator

Scale notes: the streaming aggregation state is partitioned by window
key across executors; ``availableNow`` triggers give batch-job
semantics for backfills. ``foreachBatch`` receives a normal DataFrame,
so the batch upsert (left-anti + union) is reused verbatim — one code
path for batch and streaming sinks.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..sources import sinks


def stream_source(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (new parquet files = new micro-batch,
    the streaming analog of the reference's watermark poll loop)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_time_bucket(
    sdf: DataFrame,
    time_col: str,
    interval: str,
    value_cols: Sequence[str],
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming D1/D2: tumbling window count/avg/min/max with a late-
    data watermark. Output schema matches the batch operator
    (time_bucket + point_count + per-column _avg/_max/_min)."""
    aggs = [F.count(F.lit(1)).alias("point_count")]
    for c in value_cols:
        v = F.col(c).cast("double")
        aggs += [
            F.avg(v).alias(f"{c}_avg"),
            F.max(v).alias(f"{c}_max"),
            F.min(v).alias(f"{c}_min"),
        ]
    return (
        sdf.withWatermark(time_col, watermark_delay)
        .groupBy(F.window(F.col(time_col), interval).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("time_bucket"), *[c for c in [
            "point_count",
            *[f"{c}_{s}" for c in value_cols for s in ("avg", "max", "min")],
        ]])
    )


def stream_upsert_sink(
    sdf: DataFrame,
    spark: SparkSession,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    dedup_within_batch: Sequence[str] | None = None,
):
    """foreachBatch upsert sink: each micro-batch merges into the target
    parquet (C1 left-anti + union), optionally deduping within the batch
    first (H6). Idempotent per batch-id via the checkpoint — the
    streaming analog of 'state saved only on success' (H2)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df
        if dedup_within_batch:
            b = b.dropDuplicates(list(dedup_within_batch))
        sinks.upsert(spark, b, target_path, list(keys))

    return (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def run_stream_once(writer, timeout_seconds: float = 120.0) -> None:
    """Drain all available input with availableNow (batch-style backfill
    semantics), then stop — the deterministic test/backfill trigger."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(timeout_seconds)
    if q.isActive:
        q.stop()


STATS_STATE_SCHEMA = "count LONG, total DOUBLE, max_ts TIMESTAMP"
STATS_OUTPUT_SCHEMA = (
    "key STRING, count LONG, mean DOUBLE, max_ts TIMESTAMP"
)


def stateful_running_stats(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
    time_col: str,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running count/mean/max-timestamp across micro-batches — the
    reference's per-table watermark+rowcount tracking (H2/D3/D4)
    generalized to a keyed stream.

    State is one tiny tuple per key in the state store (RocksDB/HDFS-
    backed on a cluster); each micro-batch updates it from arrow
    batches without reshuffling history.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (count, total, max_ts) = (
            state.get if state.exists else (0, 0.0, None)
        )
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value_col].sum())
            batch_max = pdf[time_col].max()
            if max_ts is None or (batch_max is not None and batch_max > max_ts):
                max_ts = batch_max
        state.update((count, total, max_ts))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "count": [count],
                "mean": [total / count if count else None],
                "max_ts": [max_ts],
            }
        )

    return (
        sdf.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=STATS_OUTPUT_SCHEMA,
            stateStructType=STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_sliding_time_bucket(
    sdf: DataFrame,
    time_col: str,
    window_len: str,
    slide: str,
    value_cols: Sequence[str],
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Sliding-window variant of the streaming time-bucket aggregate:
    each event lands in window_len/slide overlapping windows (Spark
    expands them at the source — no self-join), so rolling dashboards
    come from the same partial+final aggregation machinery as tumbling
    buckets."""
    aggs = [F.count(F.lit(1)).alias("point_count")]
    for c in value_cols:
        v = F.col(c).cast("double")
        aggs += [F.avg(v).alias(f"{c}_avg"), F.max(v).alias(f"{c}_max")]
    return (
        sdf.withWatermark(time_col, watermark_delay)
        .groupBy(F.window(F.col(time_col), window_len, slide).alias("w"))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "point_count",
            *[f"{c}_{s}" for c in value_cols for s in ("avg", "max")],
        )
    )


def stream_session_windows(
    sdf: DataFrame,
    time_col: str,
    key_col: str,
    gap: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Native session windows (`F.session_window`): per-key sessions
    close after `gap` of inactivity; the watermark bounds state (a
    session finalizes once the watermark passes its end). This is the
    streaming twin of the batch `timeseries.sessionize` operator —
    same gap semantics, incremental state instead of a sort."""
    return (
        sdf.withWatermark(time_col, watermark_delay)
        .groupBy(F.col(key_col), F.session_window(F.col(time_col), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_keys(
    sdf: DataFrame,
    keys: Sequence[str],
    time_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state — H6 (late/duplicate
    handling) as a continuous operator. ``dropDuplicatesWithinWatermark``
    keeps a key's fingerprint in the state store only until the
    event-time watermark passes it, so state size tracks the duplicate
    arrival window, not the corpus: a plain ``dropDuplicates`` on an
    unbounded stream retains every key ever seen and OOMs a 100 TB
    ingest. First arrival wins; re-deliveries inside the watermark
    window are suppressed exactly."""
    return sdf.withWatermark(time_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_continuous_aggregate(
    sdf: DataFrame,
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    bucket_seconds: int,
    agg_exprs,
    checkpoint_dir: str = "",
):
    """foreachBatch continuous aggregate: each micro-batch appends to the
    source table, then invalidates-and-recomputes exactly the (key,
    bucket) groups it touched (`sync/rollup.py:refresh`) — the streaming
    form of TimescaleDB's continuous-aggregate refresh. Late rows are
    not a special case: they land in old buckets, which the refresh
    recomputes from source like any other touched bucket. Idempotent per
    batch-id via the checkpoint (a replayed batch re-appends after crash
    *before* state commit — the same at-least-once window the sync
    engine's watermark contract documents; the rollup converges because
    refresh recomputes from source)."""
    from ..sync import rollup as R

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sinks.append(batch_df, source_path)
        source = spark.read.parquet(source_path)
        R.refresh(
            spark, source, batch_df, rollup_path,
            list(key_cols), ts_col, bucket_seconds, agg_exprs,
        )

    w = sdf.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_delay_seconds: int,
    watermark_delay: str = "10 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: match right-stream events to the
    same-key left-stream event they follow within ``max_delay_seconds``
    (impression→click attribution, order→payment pairing — the
    two-feed correlation a poll-loop sync engine cannot express at
    all).

    Both sides carry an event-time watermark, and the time-range
    predicate bounds the join state BOTH ways: a buffered left row can
    be dropped once the right watermark passes ``left_time +
    max_delay``, and vice versa — without the interval condition Spark
    would have to buffer both streams forever. The join itself is a
    key equi-join (state is hash-partitioned by key across executors);
    the range predicate is evaluated on the buffered candidates, never
    as a nested loop over streams.

    ``join_type`` may be ``inner`` or ``leftOuter`` (unmatched left
    rows emit with nulls once the watermark proves no match can still
    arrive)."""
    lt, rt = F.col(f"l.{left_time}"), F.col(f"r.{right_time}")
    l = left.alias("l").withWatermark(left_time, watermark_delay)
    r = right.alias("r").withWatermark(right_time, watermark_delay)
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {int(max_delay_seconds)} SECONDS"))
    )
    return l.join(r, cond, join_type)


def stream_dedup_ingest(
    sdf: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_bucket: int | None = None,
):
    """Streaming crawl-ingest with near-dup rejection: each micro-batch
    MinHash-checks against the persisted store
    (:func:`operators.dedup.minhash_dedup_incremental`), upserts the
    survivors into the corpus parquet, then appends their artifacts to
    the store — the continuous form of the daily-crawl loop, with the
    store keeping the corpus side scan-only forever.

    Replay safety (foreachBatch may re-run a batch after a crash):
    side effects are ordered corpus-first. A replay after a complete
    run finds every batch doc already in the store, so survivors are
    empty and both writes no-op; a replay after a crash *between* the
    two writes re-derives the same survivors (the store hasn't seen
    them yet) and the corpus upsert is key-idempotent, so the retry
    converges instead of double-appending. The store append is last
    precisely so its rows imply the corpus rows exist.

    First batch bootstraps an empty store: within-batch dedup only,
    then the store is created from the survivors. Single writer per
    (corpus, store) pair — same contract as the batch loop.
    """
    import os

    from ..operators import dedup as DD

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.exists(os.path.join(store_path, "bands")):
            survivors, _pairs = DD.minhash_dedup_incremental(
                batch_df,
                store_path,
                id_col,
                text_col,
                num_perm,
                shingle_k,
                bands,
                threshold,
                max_band_bucket=max_band_bucket,
                update_store=False,
            )
        else:  # bootstrap: nothing persisted yet, close within-batch dups
            pairs = DD.minhash_dedup_pairs(
                batch_df,
                id_col,
                text_col,
                num_perm,
                shingle_k,
                bands,
                threshold,
                max_band_bucket=max_band_bucket,
            )
            losers = (
                DD.duplicate_clusters(pairs)
                .filter(F.col("id") != F.col("cluster_id"))
                .select(F.col("id").alias(id_col))
            )
            survivors = batch_df.join(losers, id_col, "left_anti").localCheckpoint()
        # both branches pin the survivors: one derivation for both writes
        if survivors.isEmpty():
            return
        sinks.upsert(spark, survivors, corpus_path, [id_col])
        DD.save_minhash_store(
            survivors,
            store_path,
            id_col,
            text_col,
            num_perm,
            shingle_k,
            bands,
            mode="append",
        )

    return (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_substring_ingest(
    sdf: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
    n_buckets: int | None = None,
):
    """Streaming crawl-ingest with exact-substring removal (the Lee et
    al. 2022 pass as a continuous sink): each micro-batch cuts runs of
    ≥ ``k`` words the corpus already holds against the persisted
    fingerprint store
    (:func:`operators.dedup.exact_substring_dedup_incremental`),
    upserts the TRIMMED survivors into the corpus parquet (documents
    cut to '' drop), then appends the survivors' fingerprints to the
    store. The lexical twin of :func:`stream_dedup_ingest`, rejecting
    verbatim passages instead of whole near-dup documents.

    Replay safety (foreachBatch may re-run a batch after a crash, or
    an operator may re-ingest the same files under a fresh
    checkpoint). Unlike the whole-document twins, a replayed CUT is
    not naturally idempotent: once a document's trimmed fingerprints
    are in the store, re-cutting the original text against them can
    yield a DIFFERENT non-empty trim (e.g. a sub-``k`` survivor
    segment next to a now-stored one), and an unconditional upsert
    would overwrite the good corpus row. The sink therefore treats
    the CORPUS as the source of truth: batch rows whose id already
    exists in the corpus are dropped before any write (an id-only
    column-pruned read per micro-batch), so a replay can never modify
    an ingested row or double-append its fingerprints. Ordering is
    corpus-first, store-last: a crash between the writes leaves at
    most ONE batch's surviving fingerprints missing from the store —
    bounded under-cutting of future batches, never corruption —
    repaired exactly by a one-line store rebuild from the corpus
    (``save_substring_store(corpus, path)``), the documented
    at-least-once trade. First batch bootstraps an empty store with
    the batch operator (within-batch keep-first cut) and creates the
    store from its survivors. Single writer per (corpus, store) pair.
    """
    import os

    from ..operators import dedup as DD

    nb = n_buckets if n_buckets is not None else DD.SUBSTRING_STORE_BUCKETS

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # replays (same ids) must not re-cut: the corpus row is truth
        if os.path.exists(corpus_path):
            batch_df = batch_df.join(
                spark.read.parquet(corpus_path).select(id_col),
                id_col,
                "left_anti",
            )
            if batch_df.isEmpty():
                return
        bootstrapping = not os.path.exists(os.path.join(store_path, "fps"))
        if not bootstrapping:
            report = DD.exact_substring_dedup_incremental(
                batch_df,
                store_path,
                id_col,
                text_col,
                k=k,
                min_count=min_count,
                n_buckets=nb,
                update_store=False,  # appended AFTER the corpus write
            )
        else:  # bootstrap: within-batch keep-first cut only
            report = DD.exact_substring_dedup(
                batch_df, id_col, text_col, k=k, min_count=min_count
            ).localCheckpoint()
        survivors = (
            batch_df.drop(text_col)
            .join(
                report.filter(F.col("text_clean") != "").select(
                    F.col(id_col), F.col("text_clean").alias(text_col)
                ),
                id_col,
            )
            .localCheckpoint()  # one derivation for both writes
        )
        if survivors.isEmpty():
            return
        sinks.upsert(spark, survivors, corpus_path, [id_col])
        DD.save_substring_store(
            survivors,
            store_path,
            text_col,
            k=k,
            n_buckets=nb,
            mode="overwrite" if bootstrapping else "append",
        )

    return (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_semantic_ingest(
    sdf: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    checkpoint_dir: str,
    centroids: list,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 100_000,
):
    """Streaming EMBEDDING ingest with paraphrase rejection — the
    semantic twin of :func:`stream_dedup_ingest`: each micro-batch of
    vectors is checked against the persisted cell-partitioned IVF
    index (:func:`operators.similarity.semantic_dedup_incremental` —
    only the touched cell directories are read, the corpus's vectors
    are never rescanned), survivors upsert into the vector corpus and
    then append into the index under the FIXED centroid bank.

    Replay safety mirrors the lexical sink: side effects are ordered
    corpus-first and the index append is LAST, so an index row implies
    the corpus row exists. A replay after a complete run finds every
    batch vector already in the index — survivors are empty, both
    writes no-op; a replay after a crash between the writes re-derives
    the same survivors (the index hasn't seen them) and the corpus
    upsert is key-idempotent, so the retry converges. The first batch
    bootstraps an empty index: within-batch semantic dedup only
    (:func:`operators.similarity.semantic_dedup`), then the index is
    created from the survivors. Single writer per (corpus, index)
    pair — the same contract as the lexical loop.
    """
    import os

    from ..operators import similarity as SIM

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.exists(os.path.join(index_path, "_SUCCESS")):
            kept, _pairs = SIM.semantic_dedup_incremental(
                batch_df,
                index_path,
                centroids,
                threshold,
                id_col=id_col,
                vec_col=vec_col,
                max_cell=max_cell,
                update_index=False,  # appended LAST, below
            )
        else:  # bootstrap: close within-batch paraphrases only
            kept = SIM.semantic_dedup(
                batch_df,
                centroids,
                threshold,
                id_col=id_col,
                vec_col=vec_col,
                max_cell=max_cell,
            )
        survivors = batch_df.join(
            kept.select(id_col), id_col
        ).localCheckpoint()  # one derivation for both writes
        if survivors.isEmpty():
            return
        sinks.upsert(spark, survivors, corpus_path, [id_col])
        SIM.save_ivf_index(
            survivors,
            centroids,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            mode="append",
        )

    return (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
