"""End-to-end training-corpus preparation — the composed form of the
individual training-data operators, in the order a real pre-training
pipeline runs them:

    lang/quality annotate → quality gate → exact dedup
    → MinHash-LSH near-dup closure → [optional semantic dedup over
    embeddings] → split assignment

Every stage is one of the already-tested operators (text metrics are
codegen projections; dedup is banded equi-joins; splits are map-side
hash buckets), so the composition inherits their 100 TB properties:
documents shuffle only inside the two dedup stages, and the final
corpus can be written `partitionBy("split")` in the same pass.

The function returns (corpus, stats) where stats holds the per-stage
row counts — the survivorship funnel every data-prep run needs to
report — as an Arrow-built local relation (``session.local_frame``), one
partition, that needs no Python worker. Each stage runs once per call:

- the gate and exact-dedup outputs are persisted for the duration of
  the funnel, so each stage count and the downstream joins read the
  materialized stage rather than recomputing annotate/gate lineage;
  every funnel-internal persist (including the minhash shingle and
  signature tables) is unpersisted before returning, so repeated
  prepare_corpus calls leak no cached blocks;
- the classifier gate reads its model once (see
  :func:`..classifier.nb_classifier_score`);
- the last stage's survivors are pinned with ``localCheckpoint`` and
  that stage's count is observed on the pinning pass. ``corpus`` is the
  split assignment over the pin, so the caller's first action scans the
  pinned rows instead of re-deriving annotate → dedup → closure →
  gates. The pin lives as long as the caller holds ``corpus`` (Spark
  drops checkpoint blocks when the frame is garbage-collected), like
  the delta of :func:`..incremental.IncrementalLoader.fetch_incremental`.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..session import local_frame
from . import dedup as DD
from . import sampling as SP
from .query import observe_count_and_watermark


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.25,
    jaccard_threshold: float = 0.5,
    num_perm: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    max_band_bucket: int | None = None,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    split_salt: str = "split0",
    embeddings: DataFrame | None = None,
    embed_threshold: float = 0.95,
    embed_id_col: str = "vec_id",
    embed_vec_col: str = "embedding",
    n_embed_blocks: int = 8,
    embed_centroids: list | None = None,
    embed_max_cell: int | None = 100_000,
    survivor_rule: str = "min_id",
    leakage_safe: bool = False,
    substring_k: int | None = None,
    substring_min_count: int = 2,
    substring_keep_first: bool = True,
    lm_max_nll: float | None = None,
    lm_min_count: int = 2,
    classifier_model: DataFrame | None = None,
    classifier_n_buckets: int = 4096,
    classifier_bigrams: bool = True,
    decontaminate_bank: DataFrame | None = None,
    decontaminate_threshold: float = 0.95,
    decontaminate_bank_id: str = "bench_id",
) -> tuple[DataFrame, DataFrame]:
    """Run the standard corpus-prep funnel; return (corpus, stats).

    corpus columns: id, text, lang_pred, quality_score, split — one row
    per surviving document. stats rows: (stage, rows) in funnel order,
    one partition: the counts are observed on the driver and enter Spark
    as an Arrow-built local relation, so reading them starts no Python
    worker.

    The surviving rows are computed here, once: ``corpus`` reads a
    ``localCheckpoint`` pin of the last stage's survivors (taken on the
    pass that also counts that stage), not the funnel's lineage. The
    pin's blocks live as long as the caller's ``corpus``; drop the
    reference to release them.

    Near-dup closure keeps the minimum doc id of each duplicate cluster
    (the canonical survivor), matching :func:`dedup.duplicate_clusters`
    semantics, so reruns over an append-only corpus are stable: new
    near-dups of an old document delete the new copy, never the old.

    With ``embeddings`` (rows ``(embed_id_col, embed_vec_col)`` keyed by
    the same document ids) a SEMANTIC dedup stage runs after the lexical
    one: cosine near-duplicates ≥ ``embed_threshold`` among the
    surviving documents' vectors, closed into clusters with the same
    min-id-survivor rule. Lexical first — it is cheaper per pair and
    removes the boilerplate mass — so the quadratic-bounded semantic
    pass sees the smallest possible corpus. Documents without an
    embedding pass through unexamined (annotate-before-embed pipelines
    embed only post-gate survivors).

    Candidate engine for the semantic stage: by default the
    blocked-matmul EXACT all-pairs engine
    (:func:`similarity.embedding_neardup_pairs_blocked`) — right when
    "every semantic dup found" is part of the contract, but O(n²) in
    the survivor count. Passing ``embed_centroids`` (a trained k-means
    list, e.g. :func:`similarity.train_ivf_centroids`) switches to the
    cell-scoped SemDeDup recipe (:func:`similarity.semantic_dedup_pairs`
    — Σ|cell|² with the ``embed_max_cell`` viral-cell guard), the shape
    that survives a 100 TB corpus: pairs never cross cell boundaries,
    which is exactly the paper's approximation.

    ``survivor_rule='best_quality'`` switches BOTH dedup closures from
    the min-id keep-first survivor to the quality-argmax member
    (:func:`dedup.cluster_representatives`, the Gopher/FineWeb
    keep-best rule; ties → min id). Stage counts are identical — one
    survivor per cluster either way — but the surviving ROWS differ,
    so the keep-best funnel is value-verified by the
    ``corpus_prep_funnel_keepbest`` oracle entry, not just count-
    verified.

    ``leakage_safe=True`` keys the split bucket on the LEXICAL
    duplicate-cluster id (:func:`sampling.leakage_safe_split`) instead
    of the surviving doc id. With keep-best survivors this is what
    keeps eval sets honest across increments: a later batch may
    contribute a better member that replaces the cluster's survivor,
    and the cluster-keyed hash gives the replacement the SAME split
    the old survivor had (an id-keyed hash would re-roll it). The
    lexical map is the leak vector that matters — semantic-stage
    survivors are value-distinct texts.

    ``substring_k`` enables the exact-substring stage
    (:func:`dedup.exact_substring_dedup` — the Lee et al. 2022
    suffix-array pass) between exact dedup and the MinHash closure,
    its position in the Lee et al. recipe: runs of ≥ ``substring_k``
    words duplicated ≥ ``substring_min_count`` times corpus-wide are
    CUT from all but their first occurrence (``substring_keep_first``)
    and documents continue through the funnel with the trimmed text;
    documents left empty by the cut drop. Lang/quality annotations are
    kept from the original text (annotate-before-cut, like
    annotate-before-embed), and MinHash then sees the trimmed text —
    two documents that only shared a long verbatim passage no longer
    band together, which is exactly why the order matters. Adds one
    'substring_deduped' stats row.

    ``lm_max_nll`` enables the CCNet-style fluency gate AFTER the
    lexical dedup stages: a bigram LM trains on the near-dup survivors
    (training after dedup keeps duplicated boilerplate from dominating
    the counts) and documents whose mean bigram NLL exceeds the
    threshold are dropped. Documents too short to have a bigram pass
    through unjudged — gate those on the length metrics. Adds one
    'lm_gated' stats row.

    ``classifier_model`` enables the model-based quality gate (the
    LLaMA/GPT-3 pipeline position: a fastText-shape classifier scores
    every document and low-scoring ones drop). The model is a TRAINED
    table from :func:`..classifier.train_nb_classifier` — trained
    EXTERNALLY on a labeled set (LLaMA trains on Wikipedia-reference
    positives, not on the corpus being filtered), persisted, and
    broadcast at scoring time, so the gate is one broadcast join +
    per-document sum over the survivors. Runs after the lexical dedup
    stages (and after the LM gate when both are on — heuristics →
    dedup → perplexity → classifier, the CCNet/LLaMA funnel order);
    documents the scorer never sees (zero tokens) pass through
    unjudged, like the LM gate. ``classifier_n_buckets`` /
    ``classifier_bigrams`` must match the model's training settings.
    Adds one 'classifier_gated' stats row.

    ``decontaminate_bank`` enables the eval-leakage gate (rows
    ``(decontaminate_bank_id, embed_vec_col)`` — the benchmark/eval-set
    embeddings): documents whose embedding sits within
    ``decontaminate_threshold`` cosine of ANY bank vector drop
    (:func:`..similarity.semantic_decontaminate` — bank broadcasts,
    zero-shuffle corpus scan). Requires ``embeddings``; runs LAST,
    after every dedup/quality stage — a contaminated doc must never
    reach ANY split, and the final position means the scan sees the
    smallest survivor set. Documents without an embedding pass
    unjudged, like the semantic stage. Adds one 'decontaminated'
    stats row.
    """
    if survivor_rule not in ("min_id", "best_quality"):
        raise ValueError(
            f"survivor_rule must be 'min_id' or 'best_quality', got {survivor_rule!r}"
        )
    if decontaminate_bank is not None and embeddings is None:
        raise ValueError(
            "decontaminate_bank requires embeddings (the corpus-side "
            "document vectors the bank is matched against)"
        )
    spark = docs.sparkSession
    n_input = docs.count()

    # the annotate pass (tokenize + lang-id + quality metrics) is the
    # funnel's heaviest pure-map stage; a single-file corpus scans as 1
    # partition and would serialize it on one core (measured 4× on the
    # 32-core bench) — spread first, no-op on production scan sizes
    docs = DD._parallel(docs)
    toks = TX.tokens_expr(F.col(text_col))
    metrics = TX.quality_metrics_exprs(F.col(text_col))
    annotated = docs.select(
        F.col(id_col),
        F.col(text_col),
        TX.lang_id_expr(toks, F.col(text_col)).alias("lang_pred"),
        metrics["quality_score"].alias("quality_score"),
    )
    gated = annotated.filter(F.col("quality_score") >= min_quality).persist()
    n_gated = gated.count()

    exact = DD.exact_dedup(gated, id_col, text_col).persist()
    n_exact = exact.count()

    deduped = exact
    extra_cached: list[DataFrame] = []
    n_substring: int | None = None
    if substring_k is not None:
        cut = DD.exact_substring_dedup(
            exact,
            id_col,
            text_col,
            k=substring_k,
            min_count=substring_min_count,
            keep_first=substring_keep_first,
        )
        deduped = (
            cut.filter(F.col("text_clean") != "")
            .select(id_col, F.col("text_clean").alias(text_col))
            .join(
                exact.select(id_col, "lang_pred", "quality_score"), id_col
            )
            .select(id_col, text_col, "lang_pred", "quality_score")
            .persist()
        )
        extra_cached.append(deduped)
        n_substring = deduped.count()

    minhash_intermediates: list[DataFrame] = []
    pairs = DD.minhash_dedup_pairs(
        deduped,
        id_col,
        text_col,
        num_perm=num_perm,
        shingle_k=shingle_k,
        bands=bands,
        threshold=jaccard_threshold,
        max_band_bucket=max_band_bucket,
        intermediates=minhash_intermediates,
    )
    clusters = DD.duplicate_clusters(pairs)
    if survivor_rule == "best_quality":
        neardup_free = DD.cluster_representatives(
            deduped, clusters, id_col, "quality_score"
        ).drop("cluster_key")
    else:
        losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        neardup_free = deduped.join(losers, id_col, "left_anti")

    stat_rows = [
        ("input", n_input),
        ("quality_gated", n_gated),
        ("exact_deduped", n_exact),
    ]
    if n_substring is not None:
        stat_rows.append(("substring_deduped", n_substring))
    # the stages from near-dup on, counted once the funnel is built
    survivors = neardup_free
    stages = [("neardup_deduped", survivors)]
    if lm_max_nll is not None:
        from . import lm as LMOD

        model = LMOD.train_bigram_lm(
            survivors, id_col, text_col, min_count=lm_min_count
        )
        flunk = (
            LMOD.lm_score(survivors, model, id_col, text_col)
            .filter(F.col("nll") > F.lit(lm_max_nll))
            .select(id_col)
        )
        survivors = survivors.join(flunk, id_col, "left_anti")
        stages.append(("lm_gated", survivors))
    if classifier_model is not None:
        from . import classifier as CLS

        cls_flunk = (
            CLS.nb_classifier_score(
                survivors.select(id_col, text_col),
                classifier_model,
                id_col,
                text_col,
                n_buckets=classifier_n_buckets,
                bigrams=classifier_bigrams,
            )
            .filter(~F.col("pred"))
            .select(id_col)
        )
        survivors = survivors.join(cls_flunk, id_col, "left_anti")
        stages.append(("classifier_gated", survivors))
    if embeddings is not None:
        from . import similarity as SIM

        vecs = embeddings.select(
            F.col(embed_id_col).alias(id_col), F.col(embed_vec_col)
        ).join(survivors.select(id_col), id_col)
        if embed_centroids is not None:
            sem_pairs = SIM.semantic_dedup_pairs(
                vecs,
                embed_centroids,
                embed_threshold,
                id_col=id_col,
                vec_col=embed_vec_col,
                max_cell=embed_max_cell,
            ).select("id_a", "id_b", "cosine")
        else:
            sem_pairs = SIM.embedding_neardup_pairs_blocked(
                vecs,
                embed_threshold,
                id_col=id_col,
                vec_col=embed_vec_col,
                n_blocks=n_embed_blocks,
            )
        sem_clusters = DD.duplicate_clusters(sem_pairs)
        if survivor_rule == "best_quality":
            survivors = DD.cluster_representatives(
                survivors, sem_clusters, id_col, "quality_score"
            ).drop("cluster_key")
        else:
            sem_losers = sem_clusters.filter(
                F.col("id") != F.col("cluster_id")
            ).select(F.col("id").alias(id_col))
            survivors = survivors.join(sem_losers, id_col, "left_anti")
        stages.append(("semantic_deduped", survivors))
    if decontaminate_bank is not None:
        from . import similarity as SIM

        surv_vecs = embeddings.select(
            F.col(embed_id_col).alias(id_col), F.col(embed_vec_col)
        ).join(survivors.select(id_col), id_col)
        contaminated = SIM.semantic_decontaminate(
            surv_vecs,
            decontaminate_bank,
            decontaminate_threshold,
            corpus_id=id_col,
            bank_id=decontaminate_bank_id,
            vec_col=embed_vec_col,
        ).select(id_col)
        survivors = survivors.join(contaminated, id_col, "left_anti")
        stages.append(("decontaminated", survivors))

    stat_rows += [(name, frame.count()) for name, frame in stages[:-1]]
    # pin the last stage's survivors, counting them on that pass: the
    # caller's actions scan these rows instead of re-running the funnel.
    # localCheckpoint, not persist: the pin outlives this call
    observed, counted = observe_count_and_watermark(survivors, None)
    survivors = observed.localCheckpoint()
    stat_rows.append((stages[-1][0], counted()[0]))
    if leakage_safe:
        corpus = SP.leakage_safe_split(
            survivors, clusters, id_col, splits, split_salt
        )
    else:
        corpus = SP.split_assign(survivors, id_col, splits, split_salt)
    for cached in (*minhash_intermediates, *extra_cached, exact, gated):
        cached.unpersist()

    # one partition: a caller's orderBy needs no range sample or shuffle
    stats = local_frame(spark, stat_rows, "stage string, rows long").coalesce(1)
    return corpus, stats


def ingest_batch(
    new_docs: DataFrame,
    store_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_bucket: int | None = None,
    embeddings: DataFrame | None = None,
    ivf_path: str | None = None,
    centroids: list | None = None,
    embed_id_col: str = "vec_id",
    semantic_threshold: float | None = None,
    decontaminate_bank: DataFrame | None = None,
    decontaminate_threshold: float = 0.95,
    max_cell: int | None = 100_000,
    substring_store_path: str | None = None,
    substring_k: int = 50,
    substring_min_count: int = 2,
    substring_n_buckets: int = DD.SUBSTRING_STORE_BUCKETS,
) -> dict:
    """One iteration of the incremental corpus loop — the daily-crawl
    shape a growing 100 TB deduplicated corpus runs on:

    0. optionally (``substring_store_path``) CUT duplicated ≥
       ``substring_k``-word runs from the batch against the persisted
       fingerprint store (:func:`dedup.exact_substring_dedup_incremental`
       — bucket-pruned probe; the Lee et al. pass in its crawl-loop
       position, BEFORE near-dup banding so MinHash sees the trimmed
       text); documents left empty drop here;
    1. near-dup-check the batch against the persisted MinHash store
       (:func:`dedup.minhash_dedup_incremental`);
    2. optionally (``semantic_threshold``) SEMANTIC-dedup the lexical
       survivors against the persisted IVF index
       (:func:`similarity.semantic_dedup_incremental` — directory-
       pruned cell reads, asymmetric BLAS kernel; the corpus's vectors
       are never rescanned) — paraphrase copies of already-ingested
       documents drop even when no shingle matches;
    3. optionally (``decontaminate_bank``) drop survivors whose
       embedding sits within ``decontaminate_threshold`` of an
       eval-bank vector (:func:`similarity.semantic_decontaminate` —
       zero-shuffle broadcast-bank scan), so eval leakage never enters
       the corpus in the first place;
    4. append the surviving rows to the corpus parquet
       (:func:`sources.sinks.append` — columnar append, no rewrite);
    5. append the survivors' embeddings into the persisted
       cell-partitioned IVF index under the FIXED centroid bank
       (``mode='append'`` — new files inside the existing cell
       directories, no rebuild).

    The MinHash store is updated with the FINAL survivor set: inline
    (``update_store=True``) when no embedding gate is on, else deferred
    to a :func:`dedup.save_minhash_store` append AFTER the gates — a
    doc dropped by a later gate must not leave artifacts behind, or the
    store would describe documents the corpus never kept. The substring
    store follows the same rule: the cut runs with
    ``update_store=False`` and the FINAL survivors' trimmed-text
    fingerprints append after every gate. All orders maintain the loop
    invariant (pinned in pytest across batches): the corpus parquet,
    the MinHash store, the substring store, and the IVF index all
    describe exactly the same surviving document text. The lexical
    survivors are pinned once (``localCheckpoint``, by
    :func:`dedup.minhash_dedup_incremental` or the day-0 branch), so the
    MinHash store append, the gates, the corpus append and the other
    stores all read those pinned rows; the survivor count is observed
    on the corpus append's pass.

    Returns the batch report: ``{"batch", "survivors", "duplicates"}``
    plus ``"substring_survivors"`` / ``"semantic_survivors"`` /
    ``"decontaminated"`` per enabled gate (each the count AFTER that
    gate); ``duplicates`` = batch − survivors, counting fully-cut
    documents too.
    """
    from ..sources import sinks
    from ..sources.fs import fs_exists, parquet_dir_exists

    spark = new_docs.sparkSession
    gated = semantic_threshold is not None or decontaminate_bank is not None
    if semantic_threshold is not None and (
        embeddings is None or ivf_path is None or centroids is None
    ):
        raise ValueError(
            "semantic_threshold requires embeddings, ivf_path and centroids"
        )
    if decontaminate_bank is not None and embeddings is None:
        raise ValueError("decontaminate_bank requires embeddings")

    # Bootstrap probes go through the Hadoop FileSystem (sources/fs.py)
    # so day-0/lost-store branching is correct for s3a://, hdfs:// and
    # local corpus/store paths alike — a driver-local os.path probe
    # would treat any remote corpus as day-0 and silently re-seed the
    # stores. parquet_dir_exists additionally rejects empty/partially-
    # written dirs (crashed earlier run) that would fail schema
    # inference — same predicate as Catalog._exists_on_disk.
    corpus_exists = parquet_dir_exists(spark, corpus_path)
    # lost-store recovery may need the corpus twice (substring + MinHash
    # rebuilds) — read and cache it once, released after the bootstraps
    _corpus_docs: list[DataFrame] = []

    def corpus_docs() -> DataFrame:
        if not _corpus_docs:
            _corpus_docs.append(
                new_docs.sparkSession.read.parquet(corpus_path)
                .select(id_col, text_col)
                .persist()
            )
        return _corpus_docs[0]

    if semantic_threshold is not None and corpus_exists and not fs_exists(
        spark, os.path.join(ivf_path, "_SUCCESS")
    ):
        # the MinHash/substring stores can be rebuilt here from the
        # corpus text, but the IVF index needs the CORPUS embeddings,
        # which this loop never sees (it gets batch vectors only) —
        # probing a batch-seeded index would silently violate the loop
        # invariant (index must describe the corpus), so refuse loudly
        raise ValueError(
            f"semantic_threshold is set but the IVF index at {ivf_path!r} "
            "does not describe the existing corpus — rebuild it first "
            "(similarity.save_ivf_index over the corpus embeddings)"
        )

    n_batch = new_docs.count()
    report_sub: int | None = None
    sub_pinned: list[DataFrame] = []
    if substring_store_path is not None:
        if not fs_exists(spark, os.path.join(substring_store_path, "fps")):
            if corpus_exists:
                # missing/lost store, existing corpus: rebuild once so
                # the store describes the corpus before the probe
                DD.save_substring_store(
                    corpus_docs(),
                    substring_store_path,
                    text_col,
                    k=substring_k,
                    n_buckets=substring_n_buckets,
                )
            else:
                # day-0: within-batch keep-first cut only (streaming
                # sink convention); store created from survivors below
                cut = DD.exact_substring_dedup(
                    new_docs,
                    id_col,
                    text_col,
                    k=substring_k,
                    min_count=substring_min_count,
                ).localCheckpoint()
        if fs_exists(spark, os.path.join(substring_store_path, "fps")):
            cut = DD.exact_substring_dedup_incremental(
                new_docs,
                substring_store_path,
                id_col,
                text_col,
                k=substring_k,
                min_count=substring_min_count,
                n_buckets=substring_n_buckets,
                update_store=False,  # final survivors append below
            )
        # the cut report is localCheckpoint-ed by the operator; persist
        # the rejoined trimmed batch too — the MinHash probe reads it
        # from several subtrees (band rows, shingle verification,
        # survivor anti-join)
        new_docs = (
            new_docs.drop(text_col)
            .join(
                cut.filter(F.col("text_clean") != "").select(
                    F.col(id_col), F.col("text_clean").alias(text_col)
                ),
                id_col,
            )
            .persist()
        )
        sub_pinned.append(new_docs)
        report_sub = new_docs.count()
    day0 = False
    if not fs_exists(spark, os.path.join(store_path, "bands")):
        if corpus_exists:
            # first loop iteration against an existing corpus (or a lost
            # store): rebuild the store from the corpus once — the store
            # must describe the corpus before any batch probes it
            DD.save_minhash_store(
                corpus_docs(),
                store_path,
                id_col,
                text_col,
                num_perm=num_perm,
                shingle_k=shingle_k,
                bands=bands,
            )
        else:
            # day-0 bootstrap (the streaming sinks' convention): no
            # corpus, no store — close within-batch dups only; corpus
            # and store are created from the final survivors below
            day0 = True
    for cached in _corpus_docs:  # bootstrap reads done
        cached.unpersist()
    if day0:
        mh_intermediates: list[DataFrame] = []
        pairs = DD.minhash_dedup_pairs(
            new_docs,
            id_col,
            text_col,
            num_perm=num_perm,
            shingle_k=shingle_k,
            bands=bands,
            threshold=threshold,
            max_band_bucket=max_band_bucket,
            intermediates=mh_intermediates,
        )
        losers = (
            DD.duplicate_clusters(pairs)
            .filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias(id_col))
        )
        # materialize before dropping the pairs pipeline's cached
        # shingle/signature tables — they must not leak across batches
        survivors = new_docs.join(losers, id_col, "left_anti").localCheckpoint()
        for cached in mh_intermediates:
            cached.unpersist()
    else:
        survivors, _pairs = DD.minhash_dedup_incremental(
            new_docs,
            store_path,
            id_col,
            text_col,
            num_perm=num_perm,
            shingle_k=shingle_k,
            bands=bands,
            threshold=threshold,
            max_band_bucket=max_band_bucket,
            update_store=not gated,
        )
    # `survivors` is pinned by both branches (a localCheckpoint), so
    # the gates, the sinks and the stores below read the same rows.
    # Every persisted gate output is kept here and released together
    # after the sink writes — rebinding `survivors` must not orphan a
    # cached handle (each gate below persists a new frame)
    pinned: list[DataFrame] = []
    report = {"batch": n_batch}
    if report_sub is not None:
        report["substring_survivors"] = report_sub
    if gated:
        from . import similarity as SIM

        if semantic_threshold is not None:
            surv_vecs = embeddings.join(
                survivors.select(F.col(id_col).alias(embed_id_col)),
                embed_id_col,
            )
            if fs_exists(spark, os.path.join(ivf_path, "_SUCCESS")):
                sem_keep, _sp = SIM.semantic_dedup_incremental(
                    surv_vecs,
                    ivf_path,
                    centroids,
                    semantic_threshold,
                    id_col=embed_id_col,
                    max_cell=max_cell,
                    update_index=False,  # final survivors append below
                )
            else:
                # day-0: no index yet — close within-batch paraphrases
                # only (streaming sink convention); the index is created
                # from the final survivors' vectors below
                sem_keep = SIM.semantic_dedup(
                    surv_vecs,
                    centroids,
                    semantic_threshold,
                    id_col=embed_id_col,
                    max_cell=max_cell,
                )
            # docs without an embedding pass unjudged (funnel convention)
            sem_losers = surv_vecs.select(embed_id_col).join(
                sem_keep.select(embed_id_col), embed_id_col, "left_anti"
            )
            survivors = survivors.join(
                sem_losers.select(F.col(embed_id_col).alias(id_col)),
                id_col,
                "left_anti",
            ).persist()
            pinned.append(survivors)
            report["semantic_survivors"] = survivors.count()
        if decontaminate_bank is not None:
            surv_vecs = embeddings.join(
                survivors.select(F.col(id_col).alias(embed_id_col)),
                embed_id_col,
            )
            hits = SIM.semantic_decontaminate(
                surv_vecs,
                decontaminate_bank,
                decontaminate_threshold,
                corpus_id=embed_id_col,
            ).select(F.col(embed_id_col).alias(id_col))
            survivors = survivors.join(hits, id_col, "left_anti").persist()
            pinned.append(survivors)
            report["decontaminated"] = survivors.count()
    # the survivor count is taken on the corpus append's own pass
    observed, counted = observe_count_and_watermark(survivors, None)
    sinks.append(observed, corpus_path)
    n_surv = counted()[0]
    if substring_store_path is not None:
        # survivors carry the TRIMMED text (new_docs was rewritten), so
        # this keeps the store describing exactly the corpus text
        DD.save_substring_store(
            survivors,
            substring_store_path,
            text_col,
            k=substring_k,
            n_buckets=substring_n_buckets,
            mode="append",
        )
    if gated or day0:
        DD.save_minhash_store(
            survivors,
            store_path,
            id_col,
            text_col,
            num_perm=num_perm,
            shingle_k=shingle_k,
            bands=bands,
            mode="append",
        )
    if embeddings is not None and ivf_path is not None and centroids is not None:
        from . import similarity as SIM

        surv_vecs = embeddings.join(
            survivors.select(F.col(id_col).alias(embed_id_col)), embed_id_col
        )
        SIM.save_ivf_index(
            surv_vecs, centroids, ivf_path, id_col=embed_id_col, mode="append"
        )
    for cached in (*sub_pinned, *pinned):
        cached.unpersist()
    report.update(
        {"survivors": n_surv, "duplicates": n_batch - n_surv}
    )
    return report
