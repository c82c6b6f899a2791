"""Distributed linear algebra (Gram/PCA) + hashed NB classifier tests:
DuckDB differential on the oracle-paired outputs, numpy differential on
the eigensolve/projection, and scale-shape guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.operators import classifier as CL
from oracle_duckdb_sync_spark.operators import linalg as LA
from tests.oracle_check import assert_frames_match


def _load_emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _load_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- gram


def test_gram_matrix_matches_duckdb(spark, duck, sf_dir):
    e = _load_emb(spark, sf_dir)
    got = LA.gram_matrix(e).toPandas()
    want = duck.execute(LA.gram_matrix_sql("embeddings")).df()
    assert_frames_match(got, want, "gram_matrix")


def test_gram_matrix_matches_numpy(spark, sf_dir):
    e = _load_emb(spark, sf_dir)
    got = LA.gram_matrix(e).toPandas()
    M = np.array(
        [r["embedding"] for r in e.select("embedding").collect()],
        dtype=np.float64,
    )
    n, d = M.shape
    ref = (M.T @ M) / n
    for row in got.itertuples():
        assert row.n == n
        # integer-quantized mean vs float mean: micro-rounding only
        assert abs(row.gram_avg - ref[row.i - 1, row.j - 1]) < 2e-6
    assert len(got) == d * (d + 1) // 2


def test_gram_partition_invariance(spark, sf_dir):
    """Exact integers: any repartitioning yields the identical table."""
    e = _load_emb(spark, sf_dir)
    a = LA.gram_matrix(e.repartition(1)).toPandas()
    b = LA.gram_matrix(e.repartition(13)).toPandas()
    assert_frames_match(a, b, "gram partition invariance")


# ----------------------------------------------------------------- pca


def test_pca_model_matches_numpy(spark, sf_dir):
    e = _load_emb(spark, sf_dir)
    model = LA.pca_model(e)
    rows = e.select("embedding").collect()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # quantize like the operator so the covariances agree exactly-ish
    Mq = np.round(M * 1e6) / 1e6
    cov = np.cov(Mq, rowvar=False, ddof=1)
    vals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    got = np.array(model["eigvals"])
    assert np.allclose(got, vals, rtol=1e-6, atol=1e-9)
    C = np.array(model["components"])
    assert np.allclose(C @ C.T, np.eye(C.shape[0]), atol=1e-8)
    assert np.allclose(model["mean"], Mq.mean(axis=0), atol=2e-6)


def test_pca_project_and_whiten(spark, sf_dir):
    e = _load_emb(spark, sf_dir)
    model = LA.pca_model(e, k=8)
    proj = LA.pca_project(e, model).toPandas().sort_values("vec_id")
    rows = e.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = np.array(model["components"])
    mu = np.array(model["mean"])
    want = (M - mu) @ C.T
    got = np.array(list(proj["proj"]))
    assert got.shape == want.shape == (len(rows), 8)
    assert np.allclose(got, want, atol=1e-8)
    # whitened: per-component sample variance ~ 1 for informative dims
    wh = LA.pca_project(e, model, whiten=True).toPandas()
    W = np.array(list(wh["proj"]))
    v = W.var(axis=0, ddof=1)
    assert np.allclose(v, 1.0, rtol=1e-3)


def test_pca_full_rotation_preserves_norms(spark, sf_dir):
    """Full-basis projection is a rotation: vector norms survive."""
    e = _load_emb(spark, sf_dir).limit(50)
    model = LA.pca_model(e, k=None)
    proj = LA.pca_project(e, model, center=False).toPandas()
    rows = {r["vec_id"]: r["embedding"] for r in e.collect()}
    for t in proj.itertuples():
        orig = np.linalg.norm(np.array(rows[t.vec_id], dtype=np.float64))
        assert abs(np.linalg.norm(t.proj) - orig) < 1e-8


def test_pca_variance_check_matches_duckdb(spark, duck, sf_dir):
    e = _load_emb(spark, sf_dir)
    got = LA.pca_variance_check(e).toPandas()
    want = duck.execute(LA.pca_variance_sql("embeddings")).df()
    assert_frames_match(got, want, "pca_variance")


def test_pca_variance_check_raises_on_bad_basis(monkeypatch, spark, sf_dir):
    """The inline invariant gate actually gates: a broken eigensolve
    (orthonormality violated) must raise, not silently emit."""
    e = _load_emb(spark, sf_dir).limit(40)
    real = np.linalg.eigh

    def broken(a):
        vals, vecs = real(a)
        vecs = vecs.copy()
        vecs[:, 0] = vecs[:, 0] * 2.0  # no longer unit norm
        return vals, vecs

    monkeypatch.setattr(np.linalg, "eigh", broken)
    with pytest.raises(AssertionError, match="orthonormal"):
        LA.pca_variance_check(e)


def test_moment_kernel_tie_rounding():
    """_round0_np must match Spark's HALF_UP-on-shortest-repr round:
    0.5 ties go away from zero even when the binary double sits just
    below the tie (e.g. 2.675*10 = 26.749999...)."""
    got = LA._round0_np(np.array([0.5, 1.5, -0.5, -1.5, 26.75, 2.5 - 1e-12]))
    assert got.tolist() == [1, 2, -1, -2, 27, 2]


# ------------------------------------------------------------ classifier


def _labeled(docs):
    return docs.withColumn("label", F.col("lang") == "en")


def test_nb_train_matches_duckdb(spark, duck, sf_dir):
    docs = _load_docs(spark, sf_dir)
    got = CL.train_nb_classifier(_labeled(docs), n_buckets=512).toPandas()
    sql = CL.train_nb_classifier_sql(
        "(SELECT *, lang = 'en' AS label FROM documents) __l", n_buckets=512
    )
    want = duck.execute(f"SELECT * FROM {sql} __w").df()
    assert_frames_match(got, want, "nb_train")


def test_nb_train_rejects_single_class(spark, sf_dir):
    """A one-class labeled set has an undefined prior ln(N_pos/N_neg);
    training must fail loudly instead of emitting a ±Infinity-cast
    weight table the DuckDB twin would reject at the CAST."""
    docs = _load_docs(spark, sf_dir)
    for lab in (F.lit(True), F.lit(False)):
        with pytest.raises(ValueError, match="both classes"):
            CL.train_nb_classifier(docs.withColumn("label", lab))


def test_nb_score_matches_duckdb(spark, duck, sf_dir):
    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(_labeled(docs), n_buckets=512)
    got = CL.nb_classifier_score(docs, model, n_buckets=512).toPandas()
    sql = CL.nb_classifier_score_sql(
        "documents",
        CL.train_nb_classifier_sql(
            "(SELECT *, lang = 'en' AS label FROM documents) __l",
            n_buckets=512,
        ),
        n_buckets=512,
    )
    want = duck.execute(sql).df()
    assert_frames_match(got, want, "nb_score")


def test_nb_classifier_separates_languages(spark, sf_dir):
    """Sanity: a lang-labeled NB model with the calibrated threshold
    actually separates — English documents mostly score positive, the
    rest mostly negative (the synthetic corpus carries only weak
    marker-token signal, so the bar is separation, not perfection)."""
    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(_labeled(docs))
    scored = (
        CL.nb_classifier_score(docs, model)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg(F.col("pred").cast("double")).alias("pos_rate"))
        .collect()
    )
    rates = {r["is_en"]: r["pos_rate"] for r in scored}
    assert rates[True] > 0.8
    assert rates[False] < 0.2


def test_nb_scores_new_docs_without_training_corpus(spark, sf_dir, tmp_path):
    """Persisted-model contract: write the model table, reload it, and
    score UNSEEN text (every bucket unseen -> smoothed floor) — no
    training-corpus access, no crash, exact integer output."""
    docs = _load_docs(spark, sf_dir).limit(50)
    path = str(tmp_path / "nb_model")
    CL.train_nb_classifier(_labeled(docs), n_buckets=256).write.parquet(path)
    model = spark.read.parquet(path)
    new = spark.createDataFrame(
        [(1, "zzzq qqzz xyzzy"), (2, "the the the of of")],
        "doc_id long, text string",
    )
    out = CL.nb_classifier_score(new, model, n_buckets=256).toPandas()
    assert len(out) == 2
    assert (out["n_feats"] > 0).all()


def test_classifier_plan_is_broadcast_no_cartesian(spark, sf_dir):
    """The model join must broadcast (the weight table is bounded by
    n_buckets); no BroadcastNestedLoop/CartesianProduct anywhere."""
    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(_labeled(docs), n_buckets=512)
    plan = CL.nb_classifier_score(docs, model, n_buckets=512)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scorer_reads_a_lazily_trained_model_once(spark, sf_dir):
    """The scorer reads its model at construction; the scoring plan
    holds the weights as a local table and the totals and threshold as
    literals, so no aggregate over the model (the weight groupBy, the
    totals, the calibration re-score, the class means) is left in it:
    the only HashAggregate pair is the per-document sum (a scorer that
    joins the model plan itself inlines training three times)."""
    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(_labeled(docs), n_buckets=512)
    scored = CL.nb_classifier_score(docs, model, n_buckets=512)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [bucket" in plan
    assert plan.count("HashAggregate") == 2
    for name in ("n_pos", "tot_pos", "thr6"):
        assert name not in plan


def test_carried_label_scores_match_streaming_join(spark, sf_dir):
    """Training's calibration path scores the labeled set from the
    carried-label bucket stream (one featurize pass, no label
    re-join); it must be row-identical to the public streaming scorer
    followed by a label join — the carry column may not perturb the
    per-document aggregate."""
    docs = _load_docs(spark, sf_dir).limit(200)
    labeled = _labeled(docs)
    model = CL.train_nb_classifier(labeled, n_buckets=512)
    m = model.first()
    meta = tuple(F.lit(m[c]).cast("long") for c in ("tot_pos", "tot_neg", "prior6"))
    bucketed = _feature_carry_stream(labeled)
    via_carry = (
        CL._scores_from_buckets(bucketed, model, meta, 512, carry=("__lab",))
        .toPandas()
        .sort_values("__id")
        .reset_index(drop=True)
    )
    via_join = (
        CL.nb_classifier_score(labeled.select("doc_id", "text"), model, n_buckets=512)
        .withColumnRenamed("doc_id", "__id")
        .join(
            labeled.select(
                F.col("doc_id").alias("__id"),
                F.col("label").cast("boolean").alias("__lab"),
            ),
            "__id",
        )
        .select("__id", "__lab", "n_feats", "score6", "norm6")
        .toPandas()
        .sort_values("__id")
        .reset_index(drop=True)
    )
    assert via_carry.equals(via_join)


def _feature_carry_stream(labeled):
    return CL._feature_stream(
        labeled.select(
            F.col("doc_id"),
            F.col("text"),
            F.col("label").cast("boolean").alias("__lab"),
        ),
        "doc_id",
        "text",
        True,
        carry=("__lab",),
    ).select(
        "__id", "__lab", CL.bucket_expr(F.col("feat"), 512).alias("bucket")
    )


# ------------------------------------------------------------ mean pool


def test_mean_pool_matches_duckdb(spark, duck, sf_dir):
    d = _load_docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    e = _load_emb(spark, sf_dir)
    got = LA.mean_pool(
        e.join(d, "vec_id").select("lang", "embedding"), ["lang"]
    ).toPandas()
    want = duck.execute(
        LA.mean_pool_sql(
            "(SELECT d.lang, e.embedding FROM embeddings e "
            "JOIN documents d ON e.vec_id = d.doc_id) __mp",
            ["lang"],
        )
    ).df()
    assert_frames_match(got, want)


def test_mean_pool_matches_numpy(spark, sf_dir):
    e = _load_emb(spark, sf_dir).withColumn("g", F.lit("all"))
    got = LA.mean_pool(e, ["g"], micro=6).toPandas().sort_values("dim")
    M = np.array(
        [r["embedding"] for r in _load_emb(spark, sf_dir).collect()],
        dtype=np.float64,
    )
    want = M.mean(axis=0)
    # half-up micro-int mean is within one micro-unit of the float mean
    assert np.allclose(got["centroid"].to_numpy(), want, atol=2e-6)
    assert (got["n"] == len(M)).all()


def test_mean_pool_partition_invariance(spark, sf_dir):
    d = _load_docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    e = _load_emb(spark, sf_dir)
    j = e.join(d, "vec_id").select("lang", "embedding")
    a = LA.mean_pool(j, ["lang"]).toPandas()
    b = LA.mean_pool(j.repartition(13), ["lang"]).toPandas()
    assert a.equals(b)


# ------------------------------------------- classifier gate in funnel


def test_funnel_classifier_gate_counts(spark, sf_dir):
    """The classifier stage drops exactly the survivors the scorer
    predicts negative, and zero-token documents pass through."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(
        docs.withColumn("label", F.col("lang") == "en")
    )
    corpus, stats = prepare_corpus(
        docs,
        min_quality=0.25,
        jaccard_threshold=0.35,
        num_perm=32,
        shingle_k=2,
        bands=8,
        classifier_model=model,
    )
    st = {r["stage"]: r["rows"] for r in stats.collect()}
    assert "classifier_gated" in st
    assert st["classifier_gated"] <= st["neardup_deduped"]
    # the gate dropped something at this sf (mixed-language corpus)
    assert st["classifier_gated"] < st["neardup_deduped"]
    # survivors == the corpus the funnel returns
    assert corpus.count() == st["classifier_gated"]
    # replay: survivors are exactly neardup-survivors minus pred-false
    scored = CL.nb_classifier_score(docs, model).filter(~F.col("pred"))
    flunked = {r["doc_id"] for r in scored.collect()}
    kept = {r["doc_id"] for r in corpus.collect()}
    assert not (kept & flunked)


def test_funnel_corpus_first_action_scans_the_pin(spark, sf_dir):
    """prepare_corpus pins the last stage's survivors: the corpus's
    first action, with the stats read a funnel report makes, scans the
    pin instead of re-running annotate -> dedup -> closure -> model ->
    score (39 jobs over this corpus when the corpus is lazy), and
    the one-partition stats sort without a range shuffle."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus
    from tests.conftest import count_jobs

    docs = _load_docs(spark, sf_dir)
    model = CL.train_nb_classifier(_labeled(docs))
    corpus, stats = prepare_corpus(
        docs,
        min_quality=0.25,
        jaccard_threshold=0.35,
        num_perm=32,
        shingle_k=2,
        bands=8,
        classifier_model=model,
    )
    (_, rows), n = count_jobs(spark, lambda: (
        corpus.write.format("noop").mode("overwrite").save(),
        stats.orderBy("stage").collect(),
    ))
    assert n <= 2
    st = {r["stage"]: r["rows"] for r in rows}
    assert corpus.count() == st["classifier_gated"] < st["neardup_deduped"]


# ------------------------------------------------------------ k-means


def test_kmeans_step_matches_duckdb(spark, duck, sf_dir):
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    e = _load_emb(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    got = LA.kmeans_step(e, cents).toPandas()
    want = duck.execute(LA.kmeans_step_sql("embeddings", 8)).df()
    assert_frames_match(got, want)


def test_kmeans_step_matches_numpy_cell_means(spark, sf_dir):
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    e = _load_emb(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    got = LA.kmeans_step(e, cents).toPandas()
    rows = SIM.ivf_assignments(e, cents).select("cell", "embedding").collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["embedding"])
    for cell, vecs in by_cell.items():
        M = np.array(vecs, dtype=np.float64)
        sub = got[got["cell"] == cell].sort_values("dim")
        assert (sub["n"] == len(M)).all()
        assert np.allclose(
            sub["centroid"].to_numpy(), M.mean(axis=0), atol=2e-6
        )


# ------------------------------------------------- source quality gate


def test_source_quality_filter_matches_duckdb(spark, duck, sf_dir):
    from oracle_duckdb_sync_spark.operators import quality as QG

    d = _load_docs(spark, sf_dir)
    got = QG.source_quality_filter(d, 0.70).orderBy("doc_id").toPandas()
    want = duck.execute(
        QG.source_quality_filter_sql("documents", 0.70) + " ORDER BY doc_id"
    ).df()
    assert_frames_match(got, want)


def test_source_quality_filter_drops_whole_sources(spark, sf_dir):
    from oracle_duckdb_sync_spark.operators import quality as QG

    d = _load_docs(spark, sf_dir)
    kept = QG.source_quality_filter(d, 0.70).toPandas()
    all_sources = {r["source"] for r in d.select("source").distinct().collect()}
    kept_sources = set(kept["source"])
    # group-level: a source is either fully kept or fully dropped
    n_by_source = d.groupBy("source").count().toPandas()
    n_kept = kept.groupby("source").size()
    for src in kept_sources:
        total = int(n_by_source[n_by_source["source"] == src]["count"].iloc[0])
        assert int(n_kept[src]) == total
    # and the gate actually discriminates on this corpus
    assert kept_sources and kept_sources != all_sources
    # every kept source clears the bar
    assert (kept["source_quality"] >= 0.70).all()
