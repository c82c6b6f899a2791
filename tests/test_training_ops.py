"""Training-data pipeline operators: dedup, similarity search, text
analysis, multimodal plumbing.

Invariant-style unit tests at sf0.001; the bit-exact differential
checks against DuckDB live in the driver contract (__spark_entry__
oracle pairs) and tests/test_entry_queries.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.functions import text as TX
from oracle_duckdb_sync_spark.operators import dedup as DD
from oracle_duckdb_sync_spark.operators import multimodal as MM
from oracle_duckdb_sync_spark.operators import similarity as SIM
from oracle_duckdb_sync_spark.sources.testdata import load_table
from tests.conftest import count_jobs
from tests.oracle_check import assert_frames_match


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# -- dedup -------------------------------------------------------------------


def test_exact_dedup_survivors(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in
         [(1, "aa bb"), (2, "aa bb"), (3, "cc"), (4, "aa bb"), (5, "cc")]]
    )
    groups = {r["survivor_id"]: r["dup_count"]
              for r in DD.exact_dedup_groups(df, "doc_id", "text").collect()}
    assert groups == {1: 3, 3: 2}
    survivors = DD.exact_dedup(df, "doc_id", "text")
    assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 3]


def test_minhash_matches_ngram_on_planted_dups(docs):
    """MinHash-LSH and the exact inverted-index Jaccard must agree on
    the planted near-duplicate pairs (LSH recall at j≥0.35 with 8×4
    banding is ≈1 for these)."""
    exact = {(r["id_a"], r["id_b"])
             for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", 2, 0.35).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in DD.minhash_dedup_pairs(docs, "doc_id", "text", 32, 2, 8, 0.35).collect()}
    assert lsh, "no near-dup pairs found at all"
    assert lsh <= exact  # LSH candidates are Jaccard-verified: no false positives
    assert len(lsh) >= 0.8 * len(exact)  # high recall


def test_minhash_band_bucket_cap(spark):
    """max_band_bucket drops candidate generation from oversized band
    buckets (the viral-boilerplate quadratic guard) without touching
    pairs that live in normal-sized buckets."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    pair_a = "spark shuffles partitions across executors during wide joins"
    pair_b = "spark shuffles partitions across executors during wide merges"
    rows = [Row(doc_id=i, text=template) for i in range(20)]
    rows += [Row(doc_id=100, text=pair_a), Row(doc_id=101, text=pair_b)]
    df = spark.createDataFrame(rows)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_dedup_pairs(df, "doc_id", "text", 32, 2, 8, 0.35).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_dedup_pairs(
            df, "doc_id", "text", 32, 2, 8, 0.35, max_band_bucket=10
        ).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    assert any(a < 20 and b < 20 for a, b in uncapped)  # template family found
    assert not any(a < 20 and b < 20 for a, b in capped)  # capped out
    assert capped == {p for p in uncapped if p == (100, 101)}


def test_simhash_band_bucket_cap(spark):
    """Same guard as the minhash cap: identical-template fingerprints
    collapse into one band bucket; capping drops that family's
    candidates while distinct near-dups in small buckets survive."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    pair_a = "spark shuffles partitions across executors during wide joins"
    pair_b = "spark shuffles partitions across executors during wide merges"
    rows = [Row(doc_id=i, text=template) for i in range(20)]
    rows += [Row(doc_id=100, text=pair_a), Row(doc_id=101, text=pair_b)]
    df = spark.createDataFrame(rows)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_pairs(df, "doc_id", "text", 20).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_pairs(df, "doc_id", "text", 20, max_band_bucket=10).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    assert any(a < 20 and b < 20 for a, b in uncapped)
    assert not any(a < 20 and b < 20 for a, b in capped)


def test_ngram_jaccard_df_cap(spark):
    """Shingles over the document-frequency cap are dropped from the
    inverted index: docs whose only shared shingle is a stop-shingle
    (df > cap) produce no candidate pair — the bound that prevents the
    O(df²) hot-key blowup at corpus scale — while pairs sharing rare
    shingles are unaffected."""
    rows = [Row(doc_id=i, text="zz qq") for i in range(1, 5)]  # shingle df=4
    rows += [Row(doc_id=10, text="rare words here"), Row(doc_id=11, text="rare words here")]
    df = spark.createDataFrame(rows)
    capped = {(r["id_a"], r["id_b"])
              for r in DD.ngram_jaccard_pairs(df, "doc_id", "text", 2, 0.5,
                                              max_shingle_df=2).collect()}
    assert capped == {(10, 11)}
    uncapped = {(r["id_a"], r["id_b"])
                for r in DD.ngram_jaccard_pairs(df, "doc_id", "text", 2, 0.5,
                                                max_shingle_df=100).collect()}
    assert {(1, 2), (1, 3), (3, 4), (10, 11)} <= uncapped


def test_simhash_identical_and_perturbed(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=base),
            Row(doc_id=3, text=base.replace("lazy", "sleepy")),
            Row(doc_id=4, text="completely different words entirely unrelated")]
    fp = {r["doc_id"]: r["simhash"]
          for r in DD.simhash_fingerprints(spark.createDataFrame(rows), "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    ham = bin(fp[1] ^ fp[3]).count("1")
    ham_far = bin(fp[1] ^ fp[4]).count("1")
    assert ham < ham_far
    assert 0 <= fp[1] < 2 ** 60


def test_minhash_signature_shape(docs):
    sig = DD.minhash_signatures(docs.limit(5), "doc_id", "text", 16, 2).collect()
    assert all(len(r["signature"]) == 16 for r in sig)
    assert all(all(0 <= v < DD.MERSENNE_61 for v in r["signature"]) for r in sig)


# -- similarity --------------------------------------------------------------


def test_cosine_topk_self_first(emb):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    top = SIM.cosine_topk(emb, qv, 3).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]


def test_knn_join_counts(emb):
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("q_id"), "embedding")
    out = SIM.knn_join(q, emb, 5).collect()
    assert len(out) == 20
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert all(len(v) == 5 for v in by_q.values())


def test_srp_lsh_subset_of_bucket(emb):
    qv = SIM._lcg_floats(64, seed=99)
    ann = SIM.srp_lsh_topk(emb, qv, 5, n_planes=4).collect()
    # every ANN hit must also appear in the exact ranking with the same score
    exact = {r["vec_id"]: r["cosine"] for r in SIM.cosine_topk(emb, qv, 1000).collect()}
    for r in ann:
        assert exact[r["vec_id"]] == r["cosine"]


def test_srp_bucket_deterministic(emb):
    planes = SIM.hyperplanes(64, 6)
    b1 = emb.select(SIM.srp_bucket_expr(F.col("embedding"), planes).alias("b")).collect()
    b2 = emb.select(SIM.srp_bucket_expr(F.col("embedding"), planes).alias("b")).collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]
    assert all(0 <= r["b"] < 64 for r in b1)


def test_embedding_neardup_exact_pairs(spark):
    v = [1.0] + [0.0] * 7
    w = [0.99] + [0.1] + [0.0] * 6
    o = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=v), Row(vec_id=2, embedding=w), Row(vec_id=3, embedding=o)]
    )
    pairs = SIM.embedding_neardup_pairs(df, 0.9, exact=True).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_embedding_neardup_blocked_matches_exact(emb):
    """The Arrow-vectorized blocked matmul form finds exactly the pair
    set of the interpreted exact form (id_a < id_b normalized across
    blocks — a pair whose lower id hashes into the higher block must
    still surface once), with cosines equal to ~1e-6 (matmul pairwise
    summation + the exact path's 6-dp round)."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SIM.embedding_neardup_pairs(emb, 0.3, exact=True).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SIM.embedding_neardup_pairs_blocked(emb, 0.3, n_blocks=4).collect()
    }
    boundary = {
        p for p in set(exact) ^ set(blocked)
        if abs((exact.get(p) or blocked.get(p)) - 0.3) < 1e-5
    }
    assert set(exact) ^ set(blocked) == boundary  # only epsilon-at-threshold
    assert all(abs(exact[p] - blocked[p]) < 1e-5 for p in set(exact) & set(blocked))
    assert len(exact) > 0


def test_knn_join_blocked_matches_expression_form(spark, emb):
    """The vectorized k-NN join returns the same neighbor sets as the
    broadcast-expression form (rank flips need cosine ties within
    ~1e-12; random 64-dim embeddings don't produce them)."""
    queries = emb.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    expr_rows = SIM.knn_join(queries, emb, 5).collect()
    blk_rows = SIM.knn_join_blocked(queries, emb, 5).collect()
    expr = {}
    for r in expr_rows:
        expr.setdefault(r["q_id"], set()).add(r["vec_id"])
    blk = {}
    for r in blk_rows:
        blk.setdefault(r["q_id"], set()).add(r["vec_id"])
    assert expr == blk
    assert all(len(v) == 5 for v in blk.values())


def test_embedding_neardup_srp_with_dim_param(spark):
    """SRP-bucketed path with caller-supplied dim builds its plan
    without running a probe job and still finds the planted near-dup
    (identical vectors always share every SRP bucket)."""
    v = [1.0] + [0.0] * 7
    o = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=v), Row(vec_id=2, embedding=v), Row(vec_id=3, embedding=o)]
    )
    plan, n = count_jobs(spark, lambda: SIM.embedding_neardup_pairs(df, 0.9, dim=8))
    assert n == 0  # plan construction triggered no Spark job
    pairs = plan.collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_prepare_corpus_funnel(spark):
    """The composed corpus-prep pipeline exercises every funnel stage:
    the digit-wall doc dies at the quality gate, one exact dup and one
    near-dup die at their stages, survivors all carry a split label."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    good_a = "the data pipeline reads events and writes clean partitioned tables"
    good_b = "the data pipeline reads events and writes clean partitioned files"
    rows = [
        Row(doc_id=1, text=good_a),
        Row(doc_id=2, text=good_a),  # exact dup of 1
        Row(doc_id=3, text=good_b),  # near dup of 1
        Row(doc_id=4, text="a completely different sentence about the spark engine and its very good optimizer"),
        Row(doc_id=5, text="0123456789 " * 12),  # digit wall: quality-gated
    ]
    corpus, stats = prepare_corpus(
        spark.createDataFrame(rows),
        min_quality=0.6,  # digit wall scores 0.5 (no stopwords, all digits)
        jaccard_threshold=0.5,
        shingle_k=2,
    )
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s == {
        "input": 5,
        "quality_gated": 4,  # digit wall dropped
        "exact_deduped": 3,  # doc 2 dropped
        "neardup_deduped": 2,  # doc 3 clustered with 1, min-id survives
    }
    out = corpus.collect()
    assert sorted(r["doc_id"] for r in out) == [1, 4]
    assert all(r["split"] in {"train", "val", "test"} for r in out)
    assert all(r["quality_score"] >= 0.6 for r in out)


def test_prepare_corpus_substring_stage(spark, monkeypatch):
    """substring_k wires the Lee et al. exact-substring cut between
    exact dedup and MinHash: a long passage shared by two otherwise-
    distinct documents is cut from the later one, a document that IS
    only the passage drops as empty, and the stats gain one
    'substring_deduped' row in funnel position. The funnel leaks no
    cached blocks with the stage on."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    persisted = []
    orig = _DF.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(_DF, "persist", spy)
    passage = "the shared quoted passage about spark engines runs long"
    rows = [
        Row(doc_id=1, text=f"intro words here {passage} and a unique tail"),
        Row(doc_id=2, text=f"other document body {passage} different ending"),
        Row(doc_id=3, text=passage),  # nothing but the passage: drops
        Row(doc_id=4, text="completely unrelated text about database joins"),
    ]
    corpus, stats = prepare_corpus(
        spark.createDataFrame(rows),
        min_quality=0.0,
        jaccard_threshold=0.5,
        shingle_k=2,
        substring_k=6,
    )
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s == {
        "input": 4,
        "quality_gated": 4,
        "exact_deduped": 4,
        "substring_deduped": 3,  # doc 3 became '' and dropped
        "neardup_deduped": 3,
    }
    out = {r["doc_id"]: r for r in corpus.collect()}
    assert sorted(out) == [1, 2, 4]
    # doc 1 is the globally-first occurrence: kept whole
    assert out[1]["text"] == rows[0].text
    # doc 2 lost exactly the passage; its own words survive in order
    assert out[2]["text"] == "other document body different ending"
    leaked = [d for d in persisted if d.is_cached]
    assert not leaked, f"{len(leaked)} persisted DataFrames left cached"


# -- text analysis -----------------------------------------------------------


def test_lang_id_on_real_sentences(spark):
    rows = [
        Row(i=1, t="the cat is on the mat and it is happy"),
        Row(i=2, t="der Hund und die Katze sind nicht im Haus"),
        Row(i=3, t="le chat est dans la maison et il dort"),
        Row(i=4, t="el perro y el gato son amigos en la casa"),
        Row(i=5, t="xyzzy plugh qwerty"),
    ]
    out = {r["i"]: r["lang"] for r in spark.createDataFrame(rows).select(
        "i", TX.lang_id_expr(TX.tokens_expr(F.col("t"))).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_metrics_ranges(docs):
    m = TX.quality_metrics_exprs(F.col("text"))
    rows = docs.select(*[v.alias(k) for k, v in m.items()]).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert r["n_tokens"] > 0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([Row(i=1, t="a b c"), Row(i=2, t="c b a"), Row(i=3, t="a b c")])
    fps = {r["i"]: r["fp"] for r in df.select(
        "i", TX.rolling_fingerprint_expr(TX.tokens_expr(F.col("t"))).alias("fp")).collect()}
    assert fps[1] == fps[3] != fps[2]


def test_shingles_and_ngrams(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    sh = df.select(TX.word_shingles_expr(TX.tokens_expr(F.col("t")), 2).alias("s")).first()["s"]
    assert sh == ["a b", "b c", "c d"]
    short = spark.createDataFrame([Row(t="a")]).select(
        TX.word_shingles_expr(TX.tokens_expr(F.col("t")), 3).alias("s")).first()["s"]
    assert short == ["a"]
    cg = df.select(TX.char_ngrams_expr(F.col("t"), 3).alias("g")).first()["g"]
    assert "a b" in cg and len(cg) == len(set(cg))


# -- multimodal --------------------------------------------------------------


def test_multimodal_features_deterministic(docs):
    media = MM.attach_media_columns(docs.limit(20), "text", "doc_id")
    f1 = sorted(map(tuple, MM.extract_features(media).collect()))
    f2 = sorted(map(tuple, MM.extract_features(media).collect()))
    assert f1 == f2
    for row in f1:
        assert all(0.0 <= v <= 1.0 for v in row[1:])
        assert len(row) == 1 + MM.N_FAKE_FEATURES


def test_multimodal_real_decode_raises(spark, docs):
    media = MM.attach_media_columns(docs.limit(1), "text", "doc_id")
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        MM.extract_features(media, fake=False).collect()


def test_frame_sample(spark):
    rows = [
        Row(media_id=1, meta=Row(kind="video", format="mp4", width=64, height=48,
                                 n_frames=25, sample_rate=None)),
        Row(media_id=2, meta=Row(kind="image", format="png", width=64, height=48,
                                 n_frames=None, sample_rate=None)),
    ]
    df = spark.createDataFrame(rows, schema="media_id long, meta struct<kind:string,format:string,width:int,height:int,n_frames:int,sample_rate:int>")
    out = MM.frame_sample(df, every_k=10).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in out] == [(1, 0), (1, 10), (1, 20)]


def test_resize_plan(spark):
    rows = [Row(media_id=1, meta=Row(kind="image", format="png", width=448, height=224,
                                     n_frames=None, sample_rate=None)),
            Row(media_id=2, meta=Row(kind="image", format="png", width=100, height=100,
                                     n_frames=None, sample_rate=None))]
    df = spark.createDataFrame(rows, schema="media_id long, meta struct<kind:string,format:string,width:int,height:int,n_frames:int,sample_rate:int>")
    out = {r["media_id"]: r for r in MM.resize_plan(df, 224, 224).collect()}
    assert out[1]["out_w"] == 224 and out[1]["out_h"] == 112 and out[1]["needs_downscale"]
    assert out[2]["scale"] == pytest.approx(2.24) and not out[2]["needs_downscale"]


def test_knn_join_blocked_edge_cases(spark):
    """ADVICE r4: empty query side returns an empty frame (no (0,)-shape
    matmul crash); id dtypes follow the input schemas (int ids here stay
    int, not hardcoded long); duplicate corpus vectors tied exactly at
    the rank-k boundary resolve to the lower corpus_id — the same
    deterministic tiebreak as knn_join."""
    dup = [1.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0]
    far = [0.0, 0.0, 1.0]
    corpus = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=dup),
            Row(vec_id=7, embedding=dup),
            Row(vec_id=3, embedding=dup),
            Row(vec_id=5, embedding=near),
            Row(vec_id=9, embedding=far),
        ]
    ).withColumn("vec_id", F.col("vec_id").cast("int"))
    queries = spark.createDataFrame([Row(q_id=1, embedding=dup)]).withColumn(
        "q_id", F.col("q_id").cast("int")
    )

    # empty queries: clean empty result with the contract schema
    empty = SIM.knn_join_blocked(queries.filter(F.lit(False)), corpus, 3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["q_id", "vec_id", "cosine"]

    # k=2 among three exactly-tied cosine=1.0 dups: keep the two lowest ids
    got = SIM.knn_join_blocked(queries, corpus, 2).collect()
    assert sorted(r["vec_id"] for r in got) == [3, 7]
    ref = SIM.knn_join(queries, corpus, 2).collect()
    assert sorted(r["vec_id"] for r in ref) == sorted(r["vec_id"] for r in got)
    # schema-derived id types: int in, int out
    assert dict(SIM.knn_join_blocked(queries, corpus, 2).dtypes)["vec_id"] == "int"


def test_prepare_corpus_leaks_no_cached_blocks(spark, monkeypatch):
    """ADVICE r4: every persist() the funnel takes (gate, exact-dedup,
    minhash shingle + signature tables) must be unpersisted before
    prepare_corpus returns — repeated calls leak no cached blocks."""
    # patch the concrete class: pyspark.sql.DataFrame is the abstract
    # base in Spark 4 and its subclass defines persist itself
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    persisted = []
    orig = _DF.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(_DF, "persist", spy)
    rows = [
        Row(doc_id=i, text=f"the quick brown fox number {i} jumps over the lazy dog")
        for i in range(20)
    ]
    corpus, stats = prepare_corpus(spark.createDataFrame(rows), shingle_k=2)
    stats.collect()
    corpus.collect()
    assert len(persisted) >= 4  # gated, exact, shingles, signatures at least
    leaked = [d for d in persisted if d.is_cached]
    assert not leaked, f"{len(leaked)} persisted DataFrames left cached"


def test_train_ivf_centroids_end_to_end(spark, emb, tmp_path):
    """VERDICT r4 #3: the k-means trainer makes the IVF pipeline usable
    without hand-built centroids — deterministic across runs (fixed
    seed), densely numbered cells, and a trained persisted index probe
    returns k rows with sane recall against the exact top-k."""
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    c1 = SIM.train_ivf_centroids(emb, 8, seed=7)
    c2 = SIM.train_ivf_centroids(emb, 8, seed=7)
    assert c1 == c2  # deterministic rebuild
    assert [cid for cid, _ in c1] == list(range(8))
    dim = len(emb.first()["embedding"])
    assert all(len(v) == dim for _, v in c1)

    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    path = SIM.save_ivf_index(emb, c1, str(tmp_path / "ivf_trained"))
    got = SIM.ivf_topk_from_index(spark, path, q, 5, c1, n_probe=3).collect()
    assert len(got) == 5
    exact = {r["vec_id"] for r in SIM.cosine_topk(emb, q, 5).collect()}
    assert len(exact & {r["vec_id"] for r in got}) >= 2  # recall sanity

    # zero vectors carry no direction: they must not poison training
    from pyspark.sql import Row as R

    weird = emb.limit(20).select("vec_id", "embedding").union(
        spark.createDataFrame(
            [R(vec_id=99991, embedding=[0.0] * dim)],
            schema="vec_id long, embedding array<float>",
        )
    )
    assert len(SIM.train_ivf_centroids(weird, 4, seed=3)) == 4


def test_ivf_assignments_blocked_parity(spark, emb, tmp_path):
    """The BLAS index-build engine assigns every vector to the same cell
    as the interpreted (oracle-matched) form, including the
    smallest-cid tiebreak, and a blocked-built index equals the
    interpreted-built one file-for-file in content."""
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    cents = SIM.train_ivf_centroids(emb, 8, seed=7)
    a = {
        r["vec_id"]: r["cell"]
        for r in SIM.ivf_assignments(emb, cents).select("vec_id", "cell").collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in SIM.ivf_assignments_blocked(emb, cents)
        .select("vec_id", "cell")
        .collect()
    }
    assert a == b

    # duplicated centroid vector => exact score tie => smallest cid wins
    twin = [(0, cents[0][1]), (5, cents[0][1])]
    dup = SIM.ivf_assignments_blocked(emb.limit(20), twin).select("cell").distinct().collect()
    assert [r["cell"] for r in dup] == [0]

    p1 = SIM.save_ivf_index(emb, cents, str(tmp_path / "i1"))
    p2 = SIM.save_ivf_index(emb, cents, str(tmp_path / "i2"), blocked=True)
    r1 = spark.read.parquet(p1).orderBy("vec_id").collect()
    r2 = spark.read.parquet(p2).orderBy("vec_id").collect()
    assert r1 == r2


def test_neardup_blocked_schema_derived_ids(spark):
    """Blocked all-pairs follows the input id type (string ids here) and
    normalizes pair order with the same lexicographic a<b the SQL twin
    uses."""
    v = [1.0, 0.0, 0.0]
    w = [0.95, 0.31224989991991997, 0.0]
    df = spark.createDataFrame(
        [Row(vec_id="doc-b", embedding=v), Row(vec_id="doc-a", embedding=v),
         Row(vec_id="doc-c", embedding=w), Row(vec_id="doc-z", embedding=[0.0, 0.0, 1.0])]
    )
    out = SIM.embedding_neardup_pairs_blocked(df, 0.9, n_blocks=2)
    assert dict(out.dtypes)["id_a"] == "string"
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert ("doc-a", "doc-b") in pairs
    assert all(a < b for a, b in pairs)


def test_knn_join_grid_matches_expression_form(spark, emb):
    """The big-to-big grid engine returns the same neighbor sets as the
    broadcast expression form for every query (here the full corpus as
    the query side — the shape the broadcast engines cannot take), with
    empty-side and tie semantics matching knn_join_blocked."""
    queries = emb.select(F.col("vec_id").alias("q_id"), "embedding").limit(50)
    expr_rows = SIM.knn_join(queries, emb, 5).collect()
    grid_rows = SIM.knn_join_grid(queries, emb, 5, n_query_blocks=4, n_corpus_blocks=4).collect()
    expr, grid = {}, {}
    for r in expr_rows:
        expr.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in grid_rows:
        grid.setdefault(r["q_id"], set()).add(r["vec_id"])
    assert expr == grid
    assert all(len(v) == 5 for v in grid.values())

    # exact ties at the rank boundary resolve to the lowest corpus id
    dup = [1.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=dup) for i in (11, 3, 7)]
        + [Row(vec_id=1, embedding=[0.0, 1.0, 0.0])]
    )
    q = spark.createDataFrame([Row(q_id=5, embedding=dup)])
    got = SIM.knn_join_grid(q, corpus, 2, n_query_blocks=2, n_corpus_blocks=2).collect()
    assert sorted(r["vec_id"] for r in got) == [3, 7]


def test_minhash_incremental_store(spark, tmp_path):
    """Incremental dedup against a persisted store: a new batch is
    near-dup-checked without rescanning the corpus, store matches kill
    the new doc regardless of id order, within-batch families close via
    min-id clusters, and the store append keeps the loop invariant (the
    store describes exactly the deduplicated corpus)."""
    base = "the data pipeline reads events and writes clean partitioned tables every night"
    fam = "spark executors shuffle wide joins across the cluster nodes quickly tonight"
    store = str(tmp_path / "mh_store")
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="a completely different sentence about the catalyst optimizer and plans"),
            Row(doc_id=3, text="yet another unrelated document mentioning parquet files and row groups"),
        ]
    )
    DD.save_minhash_store(corpus, store, shingle_k=2)

    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text=base.replace("night", "morning")),  # dup of store doc 1
            Row(doc_id=11, text="fresh text with no resemblance to anything stored before now"),
            Row(doc_id=12, text=fam),
            Row(doc_id=13, text=fam.replace("tonight", "today")),   # within-batch family
        ]
    )
    survivors, pairs = DD.minhash_dedup_incremental(
        batch, store, shingle_k=2, threshold=0.35
    )
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 10) in got_pairs and (12, 13) in got_pairs
    assert sorted(r["doc_id"] for r in survivors.collect()) == [11, 12]

    # store grew by exactly the survivors
    sig_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/signatures").select("doc_id").collect()
    )
    assert sig_ids == [1, 2, 3, 11, 12]

    # a later batch duplicating a batch-B survivor is caught via the append
    batch2 = spark.createDataFrame(
        [Row(doc_id=20, text=fam.replace("quickly", "slowly"))]
    )
    s2, p2 = DD.minhash_dedup_incremental(
        batch2, store, shingle_k=2, threshold=0.35, update_store=False
    )
    assert s2.count() == 0
    assert {(r["id_a"], r["id_b"]) for r in p2.collect()} == {(12, 20)}
    # update_store=False left the store unchanged
    assert spark.read.parquet(f"{store}/signatures").count() == 5


def test_ivf_index_append_mode(spark, emb, tmp_path):
    """Appending a new batch to a persisted IVF index under the same
    centroids equals a full rebuild over the union: same per-cell
    membership, and a probe finds appended vectors without a rebuild."""
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    cents = SIM.train_ivf_centroids(emb, 4, seed=7)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    inc = str(tmp_path / "ivf_inc")
    SIM.save_ivf_index(old, cents, inc)
    SIM.save_ivf_index(new, cents, inc, mode="append")
    full = str(tmp_path / "ivf_full")
    SIM.save_ivf_index(emb, cents, full)
    a = spark.read.parquet(inc).select("vec_id", "cell").orderBy("vec_id").collect()
    b = spark.read.parquet(full).select("vec_id", "cell").orderBy("vec_id").collect()
    assert a == b

    q = [float(x) for x in new.orderBy(F.col("vec_id").desc()).first()["embedding"]]
    hit = SIM.ivf_topk_from_index(spark, inc, q, 1, cents, n_probe=4).first()
    assert hit["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_knn_recall_handcrafted(spark):
    exact = spark.createDataFrame(
        [(q, n) for q in (1, 2) for n in range(5)], ["q_id", "vec_id"]
    )
    # query 1: 3/5 neighbors recovered; query 2: none
    approx = spark.createDataFrame(
        [(1, 0), (1, 1), (1, 2), (1, 99), (1, 98), (2, 77)], ["q_id", "vec_id"]
    )
    got = {
        r["q_id"]: r for r in SIM.knn_recall(exact, approx).collect()
    }
    assert got[1]["n_exact"] == 5 and got[1]["hits"] == 3
    assert abs(got[1]["recall"] - 0.6) < 1e-12
    assert got[2]["hits"] == 0 and got[2]["recall"] == 0.0


def test_knn_recall_ivf_probe_sweep(spark, emb):
    """Recall of the IVF probe rises with n_probe and hits 1.0 when every
    cell is probed — the tunability contract of the approximate index."""
    from pyspark.sql import functions as F

    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ]
    qvecs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id").between(100, 104))
        .select("vec_id", "embedding")
        .collect()
    ]
    queries = emb.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = SIM.knn_join(queries, emb, 5)

    def probe_all(n_probe):
        parts = [
            SIM.ivf_topk(emb, vec, 5, cents, n_probe=n_probe).select(
                F.lit(qid).alias("q_id"), "vec_id"
            )
            for qid, vec in qvecs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    r_full = SIM.knn_recall(exact, probe_all(8)).agg(
        F.avg("recall").alias("r")
    ).first()["r"]
    assert r_full == 1.0  # probing every cell IS the exact search
    r_2 = SIM.knn_recall(exact, probe_all(2)).agg(
        F.avg("recall").alias("r")
    ).first()["r"]
    assert 0.0 < r_2 <= 1.0


def test_prepare_corpus_semantic_stage(spark):
    """With an embeddings table, the funnel runs a semantic dedup stage
    after the lexical one: cosine near-dups among lexical survivors are
    clustered and the min id survives; docs without embeddings pass
    through unexamined."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    texts = {
        1: "the data pipeline reads events and writes clean partitioned tables",
        4: "a completely different sentence about the spark engine and its very good optimizer",
        6: "yet another unrelated document mentioning streams joins and windows at scale",
        7: "one more distinct document on caches locks and schedulers in the engine",
    }
    rows = [Row(doc_id=i, text=t) for i, t in texts.items()]
    # 4 and 6 share an identical embedding direction (cosine 1.0);
    # 1 and 7 are orthogonal to everything; doc 7 has NO embedding row
    emb = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=6, embedding=[0.0, 2.0, 0.0, 0.0]),
    ]
    corpus, stats = prepare_corpus(
        spark.createDataFrame(rows),
        min_quality=0.0,
        jaccard_threshold=0.9,
        shingle_k=2,
        embeddings=spark.createDataFrame(emb),
        embed_threshold=0.95,
        n_embed_blocks=2,
    )
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s["input"] == 4 and s["neardup_deduped"] == 4
    assert s["semantic_deduped"] == 3  # doc 6 lost to doc 4 (min id)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 4, 7]


def test_ingest_batch_incremental_loop(spark, tmp_path):
    """Two ingest iterations: batch dups against the store AND within
    the batch are dropped, survivors append to the corpus, the store is
    updated so the NEXT batch dedups against batch-1 survivors, and the
    IVF index grows to exactly the surviving embedded docs."""
    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch
    from oracle_duckdb_sync_spark.operators.similarity import ivf_topk_from_index

    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivf")
    t0 = "the corpus starts with this perfectly ordinary seed document text"
    t1 = "an entirely different second seed document about engines and plans"
    base = spark.createDataFrame(
        [Row(doc_id=0, text=t0), Row(doc_id=1, text=t1)]
    )
    DD.save_minhash_store(base, store, "doc_id", "text", 32, 2, 8)
    base.write.parquet(corpus)
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    SIM.save_ivf_index(
        spark.createDataFrame(
            [Row(vec_id=0, embedding=[0.9, 0.1]), Row(vec_id=1, embedding=[0.1, 0.9])]
        ),
        cents,
        ivf,
    )

    tb = "a brand new batch document with genuinely novel content inside"
    batch1 = spark.createDataFrame(
        [
            Row(doc_id=10, text=t0),            # dup of stored doc 0
            Row(doc_id=11, text=tb),            # novel -> survives
            Row(doc_id=12, text=tb + " x"),     # near-dup of 11 -> dropped
        ]
    )
    emb1 = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[0.8, 0.2]),
            Row(vec_id=11, embedding=[0.2, 0.8]),
            Row(vec_id=12, embedding=[0.5, 0.5]),
        ]
    )
    rep1 = ingest_batch(
        batch1, store, corpus, shingle_k=2,
        embeddings=emb1, ivf_path=ivf, centroids=cents,
    )
    assert rep1 == {"batch": 3, "survivors": 1, "duplicates": 2}
    ids = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids == [0, 1, 11]
    # index holds exactly the embedded corpus docs (0, 1, 11)
    idx_ids = sorted(r["vec_id"] for r in spark.read.parquet(ivf).collect())
    assert idx_ids == [0, 1, 11]
    # probing the grown index finds the new vector without any rebuild
    top = ivf_topk_from_index(spark, ivf, [0.2, 0.8], 1, cents, n_probe=2)
    assert top.first()["vec_id"] == 11

    # batch 2 dups batch 1's SURVIVOR -> the store update caught it
    batch2 = spark.createDataFrame([Row(doc_id=20, text=tb)])
    rep2 = ingest_batch(batch2, store, corpus, shingle_k=2)
    assert rep2 == {"batch": 1, "survivors": 0, "duplicates": 1}
    assert spark.read.parquet(corpus).count() == 3


def test_ingest_batch_substring_stage(spark, tmp_path):
    """ingest_batch with the exact-substring stage on: a run the corpus
    holds is cut from the batch BEFORE MinHash banding (so a document
    that only shared the run survives with trimmed text), a document
    that IS only the run drops, and the substring store is updated with
    the final survivors' trimmed fingerprints so the next batch dedups
    against them."""
    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    store = str(tmp_path / "mh_store")
    corpus = str(tmp_path / "corpus")
    sub_store = str(tmp_path / "sub_store")
    run = "q1 q2 q3 q4"
    t0 = f"seed document one carrying {run} inside its body text"
    base = spark.createDataFrame([Row(doc_id=0, text=t0)])
    DD.save_minhash_store(base, store, "doc_id", "text", 32, 2, 8)
    DD.save_substring_store(base, sub_store, "text", k=4)
    base.write.parquet(corpus)

    novel = "totally different crawl content about distributed planners"
    batch1 = spark.createDataFrame(
        [
            Row(doc_id=10, text=f"{novel} {run}"),  # run cut, rest survives
            Row(doc_id=11, text=run),               # only the run: drops
        ]
    )
    rep1 = ingest_batch(
        batch1, store, corpus, shingle_k=2,
        substring_store_path=sub_store, substring_k=4,
    )
    assert rep1 == {
        "batch": 2,
        "substring_survivors": 1,
        "survivors": 1,
        "duplicates": 1,
    }
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert rows[10] == novel  # trimmed text landed in the corpus

    # batch 2 repeats batch 1's surviving TRIMMED text: the substring
    # store update catches every window, the doc empties and drops
    batch2 = spark.createDataFrame([Row(doc_id=20, text=novel)])
    rep2 = ingest_batch(
        batch2, store, corpus, shingle_k=2,
        substring_store_path=sub_store, substring_k=4,
    )
    assert rep2 == {
        "batch": 1,
        "substring_survivors": 0,
        "survivors": 0,
        "duplicates": 1,
    }
    assert spark.read.parquet(corpus).count() == 2


class TestChunkText:
    def _chunks(self, spark, text, size, overlap):
        from oracle_duckdb_sync_spark.functions.text import chunk_text

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = chunk_text(df, "doc_id", "text", size, overlap).collect()
        return [(r.chunk_idx, r.chunk) for r in sorted(rows)]

    def test_overlap_windows(self, spark):
        got = self._chunks(spark, "abcdefghij", 4, 2)  # step 2, len 10
        assert got[0] == (0, "abcd")
        assert got[1] == (1, "cdef")
        # last chunk still reaches the end of the doc
        assert got[-1][1][-1] == "j"
        # every adjacent pair overlaps by exactly 2 chars
        for (_, a), (_, b) in zip(got, got[1:]):
            assert a[2:4] == b[0:2]

    def test_exact_multiple_no_empty_tail(self, spark):
        got = self._chunks(spark, "abcdef", 3, 0)
        assert got == [(0, "abc"), (1, "def")]

    def test_short_and_empty_docs_yield_one_chunk(self, spark):
        assert self._chunks(spark, "ab", 500, 100) == [(0, "ab")]
        assert self._chunks(spark, "", 500, 100) == [(0, "")]

    def test_unicode_character_addressing(self, spark):
        got = self._chunks(spark, "中文字符测试六个", 4, 0)
        assert got == [(0, "中文字符"), (1, "测试六个")]

    def test_bad_params_rejected(self, spark):
        from oracle_duckdb_sync_spark.functions.text import chunk_text

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            chunk_text(df, "doc_id", "text", 0, 0)
        with _pytest.raises(ValueError):
            chunk_text(df, "doc_id", "text", 4, 4)


class TestCapPerGroup:
    def test_cap_and_passthrough(self, spark):
        from oracle_duckdb_sync_spark.operators.sampling import cap_per_group

        rows = [(i, "big") for i in range(50)] + [(100 + i, "small") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = cap_per_group(df, "doc_id", "source", 10).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r.source, set()).add(r.doc_id)
        assert len(by_src["big"]) == 10
        assert by_src["small"] == {100, 101, 102}  # under-cap group intact

    def test_deterministic_and_partition_invariant(self, spark):
        from oracle_duckdb_sync_spark.operators.sampling import cap_per_group

        df = spark.createDataFrame(
            [(i, f"s{i % 4}") for i in range(200)], "doc_id long, source string"
        )
        a = {r.doc_id for r in cap_per_group(df, "doc_id", "source", 7).collect()}
        b = {r.doc_id for r in cap_per_group(df.repartition(13), "doc_id", "source", 7).collect()}
        assert a == b and len(a) == 28

    def test_skew_safe_matches_plain_form(self, spark, sf_dir):
        """The two-phase skew-safe form (count → bucket-threshold
        prefilter → window) must return EXACTLY the plain window's
        rows — on a synthetic skew (one mega-group) and on the real
        documents corpus across caps."""
        from oracle_duckdb_sync_spark.operators.sampling import cap_per_group

        rows = [(i, "mega") for i in range(5000)] + [
            (10_000 + i, f"s{i % 5}") for i in range(50)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        for cap in (3, 10, 100):
            plain = sorted(
                (r.doc_id, r.source)
                for r in cap_per_group(df, "doc_id", "source", cap).collect()
            )
            safe = sorted(
                (r.doc_id, r.source)
                for r in cap_per_group(
                    df, "doc_id", "source", cap, skew_safe=True
                ).collect()
            )
            assert plain == safe, cap
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plain = sorted(
            r.doc_id for r in cap_per_group(d, "doc_id", "source", 9).collect()
        )
        safe = sorted(
            r.doc_id
            for r in cap_per_group(
                d, "doc_id", "source", 9, skew_safe=True
            ).collect()
        )
        assert plain == safe

    def test_skew_safe_handles_null_groups(self, spark):
        """A NULL group is a normal window partition in the plain form;
        the skew-safe prefilter's count join must be null-safe or every
        NULL-group row silently vanishes."""
        from oracle_duckdb_sync_spark.operators.sampling import cap_per_group

        rows = [(i, None) for i in range(40)] + [
            (100 + i, "s") for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        plain = sorted(
            (r.doc_id, r.source)
            for r in cap_per_group(df, "doc_id", "source", 5).collect()
        )
        safe = sorted(
            (r.doc_id, r.source)
            for r in cap_per_group(
                df, "doc_id", "source", 5, skew_safe=True
            ).collect()
        )
        assert plain == safe
        assert sum(1 for _d, s in safe if s is None) == 5

    def test_skew_safe_handles_null_ids(self, spark):
        """ADVICE r11: a NULL id hashes to a NULL bucket, so the bare
        `bucket < __thr` prefilter dropped NULL-id rows while the plain
        window ranked them (NULLS FIRST). The NULL-tolerant prefilter
        must restore the row-for-row identity, and the DuckDB twin
        (explicit NULLS FIRST — DuckDB's ASC default is NULLS LAST)
        must select the very same rows."""
        import duckdb

        from oracle_duckdb_sync_spark.operators.sampling import (
            cap_per_group,
            cap_per_group_sql,
        )

        rows = [(None, "mega")] * 3 + [(float(i), "mega") for i in range(400)] + [
            (1000.0 + i, "s") for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id double, source string")

        def norm(pairs):  # None-safe canonical ordering
            return sorted(
                pairs, key=lambda t: (t[0] is not None, t[0] or 0.0, t[1])
            )

        plain = norm(
            (r.doc_id, r.source)
            for r in cap_per_group(df, "doc_id", "source", 5).collect()
        )
        safe = norm(
            (r.doc_id, r.source)
            for r in cap_per_group(
                df, "doc_id", "source", 5, skew_safe=True
            ).collect()
        )
        assert plain == safe
        # the 3 NULL-id rows rank first in the mega group on both forms
        assert sum(1 for d, s in safe if d is None and s == "mega") == 3

        con = duckdb.connect()
        con.register("t", df.toPandas())
        for skew in (False, True):
            got = norm(
                (r[0], r[1])
                for r in con.execute(
                    cap_per_group_sql("t", "doc_id", "source", 5, skew_safe=skew)
                ).fetchall()
            )
            assert got == plain, f"duckdb twin skew_safe={skew}"

    def test_skew_safe_detects_null_id_overflow(self, spark):
        """ADVICE r12: when ONE group holds more NULL-id rows than
        max_rows, the kept subset among the fully-tied (NULL bucket,
        NULL id) keys is engine/partitioning-dependent — the skew_safe
        counts pass must detect the condition and raise the documented
        message instead of silently breaking the row-for-row oracle
        identity. At exactly max_rows NULL ids the guard must NOT fire
        (all NULL-id rows survive, no tie to break)."""
        import pytest as _pytest

        from oracle_duckdb_sync_spark.operators.sampling import cap_per_group

        rows = [(None, "mega")] * 7 + [(float(i), "mega") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id double, source string")
        with _pytest.raises(Exception, match="NULL-doc_id rows > max_rows"):
            cap_per_group(df, "doc_id", "source", 5, skew_safe=True).collect()
        # boundary: exactly max_rows NULL ids is deterministic and fine
        ok = cap_per_group(df, "doc_id", "source", 7, skew_safe=True).collect()
        assert sum(1 for r in ok if r.doc_id is None) == 7

    def test_skew_safe_prefilter_shrinks_window_input(self, spark):
        """The scale claim, measured: the prefilter passes ~oversample×
        cap rows of a mega-group to the window, not the whole group."""
        from oracle_duckdb_sync_spark.operators import sampling as SA
        from pyspark.sql import functions as F

        rows = [(i, "mega") for i in range(20_000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        counts = (
            df.groupBy("source")
            .agg(F.count(F.lit(1)).alias("__ng"))
            .withColumn(
                "__thr",
                F.expr(
                    f"least(CAST({SA.SAMPLE_BUCKETS} AS BIGINT), "
                    f"CAST(({4 * 10 * SA.SAMPLE_BUCKETS} + __ng - 1) "
                    f"DIV __ng AS BIGINT))"
                ),
            )
        )
        survivors = (
            df.join(F.broadcast(counts), "source")
            .filter(SA.sample_bucket_expr("doc_id", "cap0") < F.col("__thr"))
            .count()
        )
        # expectation 4×cap = 40 from 20k rows; generous bound
        assert 10 <= survivors <= 400


class TestApproxQuantiles:
    def test_rank_bound_excludes_nulls_from_population(self, spark, tmp_path):
        """ADVICE r10: NULL values must not inflate n (and thus the GK
        target rank) — the sketch and the rank sums never see NULLs, so
        counting them could spuriously flip within_rank_bound on a
        nullable column. Pinned on a corpus that is mostly NULLs."""
        import importlib.util
        import os as _os
        import sys as _sys

        spec = importlib.util.spec_from_file_location(
            "__spark_entry_t__",
            _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "__spark_entry__.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        _sys.modules.setdefault("__spark_entry_t__", mod)
        spec.loader.exec_module(mod)

        rows = []
        for i in range(400):
            # 75% NULL values; two event types
            v = float(i % 97) if i % 4 == 0 else None
            rows.append(Row(event_type=f"t{i % 2}", value=v))
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            str(tmp_path / "events.parquet")
        )
        out = mod.queries()["value_quantiles_approx"](
            spark, str(tmp_path)
        ).collect()
        assert out, "quantile rows expected"
        non_null = {"t0": 0, "t1": 0}
        for r in rows:
            if r.value is not None:
                non_null[r.event_type] += 1
        for r in out:
            assert r["within_rank_bound"] is True, r
            assert r["n_events"] == non_null[r["event_type"]], r
    def test_sketch_within_rank_epsilon_of_exact(self, spark, sf_dir):
        """approx_percentile(accuracy=10000) must land within ~1/accuracy
        rank error of the exact percentile — checked by value proximity
        against the exact form on every (type, percentile) cell, plus
        the registry entry's own GK rank-interval invariant."""
        import __spark_entry__ as entrymod
        from oracle_duckdb_sync_spark.sources.testdata import load_table

        # the registry entry now SELF-CHECKS the published rank bound
        # (its oracle pins the boolean) — every cell must hold here too
        bounds = entrymod.queries()["value_quantiles_approx"](spark, sf_dir).collect()
        assert len(bounds) >= 4
        assert all(r.within_rank_bound for r in bounds), bounds

        exact = {
            (r.event_type): (r.q25, r.q50, r.q75, r.q95)
            for r in entrymod.queries()["value_quantiles"](spark, sf_dir).collect()
        }
        e = load_table(spark, sf_dir, "events")
        approx = {
            r.event_type: tuple(r.p)
            for r in e.groupBy("event_type").agg(
                F.expr(
                    "approx_percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)"
                ).alias("p")
            ).collect()
        }
        assert exact.keys() == approx.keys()
        for k in exact:
            for e_, a in zip(exact[k], approx[k]):
                # rank-ε translates to a value gap bounded by the local
                # density; 5% of the exact value is generous at n≈400/type
                assert abs(a - e_) <= max(0.05 * abs(e_), 0.5), (k, e_, a)


# ---------------------------------------------------------------------------
# fuzzy key matching
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (plain DP) for brute-force parity."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_FUZZY_KEYS = [
    "alpha", "alpah", "alphaa", "alpa",          # swaps/inserts/deletes of one root
    "beta", "betta", "btea",
    "gamma-42", "gamma-43", "gamma-4",
    "", "x", "xy",                                # degenerate shorts
    "completely-different-key",
    "ORD-2024-000113", "ORD-2024-000114", "ORD-2024-00113",
]


@pytest.mark.parametrize("max_distance", [1, 2])
def test_fuzzy_pairs_matches_brute_force(spark, max_distance):
    """The deletion-variant join must find EXACTLY the brute-force
    Levenshtein ≤ k pairs — the SymSpell neighborhood guarantee, plus
    no false positives surviving the verify filter."""
    df = spark.createDataFrame(
        [Row(id=i, k=k) for i, k in enumerate(_FUZZY_KEYS)]
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in DD.fuzzy_pairs(df, "id", "k", max_distance, max_bucket=None).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in enumerate(_FUZZY_KEYS)
        for j, b in enumerate(_FUZZY_KEYS)
        if i < j and _lev(a, b) <= max_distance
    }
    assert got == want


def test_fuzzy_pairs_bucket_cap_drops_degenerate_key(spark):
    """A key shared verbatim by more rows than the cap must not emit its
    b² self-join pairs; distinct keys still match through uncapped
    variants."""
    rows = [Row(id=i, k="viral") for i in range(10)] + [
        Row(id=100, k="unique-a"),
        Row(id=101, k="unique-b"),  # dist 1 from unique-a
    ]
    df = spark.createDataFrame(rows)
    got = DD.fuzzy_pairs(df, "id", "k", 1, max_bucket=5).collect()
    ids = {(r.id_a, r.id_b) for r in got}
    assert (100, 101) in ids
    assert not any(a < 10 and b < 10 for a, b in ids)  # viral pairs dropped


# ---------------------------------------------------------------------------
# exact-integer Pearson correlation
# ---------------------------------------------------------------------------

def test_pearson_by_group_matches_native_corr(spark):
    """The integer-moment rearrangement must agree with Spark's native
    corr/covar_pop to float tolerance on exact-decimal inputs, and
    handle nulls (pairwise exclusion) and zero variance (NULL out)."""
    from oracle_duckdb_sync_spark.operators import aggregate as A

    rows = [
        Row(g="a", x=1.25, y=3.0), Row(g="a", x=2.50, y=5.0),
        Row(g="a", x=4.75, y=4.0), Row(g="a", x=0.10, y=None),  # excluded
        Row(g="b", x=1.00, y=1.0), Row(g="b", x=2.00, y=2.0),
        Row(g="c", x=7.00, y=9.0), Row(g="c", x=7.00, y=2.0),   # zero x-var
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.g: r
        for r in A.pearson_by_group(df, "g", "x", "y", 2, 0).collect()
    }
    native = {
        r.g: r
        # native corr THROWS (ANSI divide-by-zero) on the zero-variance
        # group — the operator's NULL guard is the robustness win here
        for r in df.filter("x is not null and y is not null and g <> 'c'")
        .groupBy("g")
        .agg(F.corr("x", "y").alias("c"), F.covar_pop("x", "y").alias("cv"))
        .collect()
    }
    assert got["a"].n == 3
    assert abs(got["a"].corr - native["a"].c) < 1e-9
    assert abs(got["a"].cov_pop - native["a"].cv) < 1e-9
    assert abs(got["b"].corr - 1.0) < 1e-12
    assert got["c"].corr is None  # zero variance -> NULL, not NaN/inf
    assert got["c"].cov_pop is not None


# ---------------------------------------------------------------------------
# corpus-level boilerplate removal
# ---------------------------------------------------------------------------

def test_boilerplate_dedup_line_mode(spark):
    """Viral lines (df >= min_df) vanish from every document, surviving
    lines keep their order, a fully-boilerplate document survives as
    '', and unique lines are untouched."""
    footer = "subscribe to our newsletter"
    rows = [
        Row(id=1, text=f"alpha one\n{footer}\nalpha two"),
        Row(id=2, text=f"{footer}\nbeta body"),
        Row(id=3, text=f"gamma start\n{footer}"),
        Row(id=4, text=footer),                      # only boilerplate
        Row(id=5, text="unique line\nanother unique"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.id: r
        for r in DD.boilerplate_dedup(df, "id", "text", min_df=3, unit="\n").collect()
    }
    assert got[1].text_clean == "alpha one\nalpha two"
    assert got[2].text_clean == "beta body"
    assert got[3].text_clean == "gamma start"
    assert got[4].text_clean == "" and got[4].n_removed == 1
    assert got[5].text_clean == "unique line\nanother unique"
    assert got[5].n_removed == 0
    assert got[1].n_units == 3 and got[1].n_removed == 1


def test_boilerplate_dedup_span_mode_groups_words(spark):
    """n-word span mode: spans are consecutive word windows; a span
    shared by min_df docs is removed from each, and reassembly joins
    surviving spans with single spaces."""
    shared = "w1 w2 w3"  # one 3-word span
    rows = [
        Row(id=1, text=f"{shared} tail one x"),
        Row(id=2, text=f"{shared} tail two y"),
        Row(id=3, text=f"{shared} tail tre z"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.id: r
        for r in DD.boilerplate_dedup(df, "id", "text", min_df=3, unit=3).collect()
    }
    assert got[1].text_clean == "tail one x"
    assert all(got[i].n_units == 2 and got[i].n_removed == 1 for i in (1, 2, 3))


def test_boilerplate_unit_guard_sentinel_text(spark):
    """A document that already CONTAINS U+0001 (the span-mode split
    sentinel) must still produce the definitional n-word windows —
    such rows take the slice/join branch (VERDICT r14 #6), so the
    sentinel fast path can never corrupt binary-ish text — and
    span-mode dedup over a mixed corpus stays correct."""
    from oracle_duckdb_sync_spark.operators.dedup import _unit_array_expr

    s = "\x01"
    texts = [
        f"a{s}b c d e f",        # sentinel inside a word
        f"a {s} c d e f g",      # sentinel as its own word
        f"{s}{s} x",             # leading sentinels
        "plain words with no sentinel at all",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    for n in (1, 2, 3):
        got = {
            r.i: r.u
            for r in df.selectExpr(
                "i", _unit_array_expr("t", n) + " AS u"
            ).collect()
        }
        for i, t in enumerate(texts):
            w = t.split(" ")
            want = [
                " ".join(w[g * n : g * n + n])
                for g in range((len(w) + n - 1) // n)
            ]
            assert got[i] == want, (n, i, t, got[i], want)
    # end-to-end: a viral span is still cut when one corpus member
    # carries a sentinel (the guarded branch and the fast path must
    # agree on the shared window strings)
    shared = "w1 w2 w3"
    rows = [
        Row(id=1, text=f"{shared} tail one"),
        Row(id=2, text=f"{shared} tail two"),
        Row(id=3, text=f"{shared} has{s}sentinel"),
    ]
    got = {
        r.id: r
        for r in DD.boilerplate_dedup(
            spark.createDataFrame(rows), "id", "text", min_df=3, unit=3
        ).collect()
    }
    assert got[1].text_clean == "tail one"
    assert got[3].text_clean == f"has{s}sentinel"
    assert all(got[i].n_removed == 1 for i in (1, 2, 3))


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022 suffix-array pass)
# ---------------------------------------------------------------------------

def test_exact_substring_shared_run_keep_first(spark):
    """A ≥k-word run shared by two documents is cut from the later
    (higher-id) document only in keep_first mode; surrounding unique
    words survive byte-exactly, and the maximal run is ONE span even
    though it is covered by several overlapping k-windows."""
    run = "q r s t u v w"  # 7 words, k=4 → 4 overlapping dup windows
    rows = [
        Row(id=1, text=f"a b {run} c d"),
        Row(id=2, text=f"e f g {run} h"),
        Row(id=3, text="nothing shared here at all"),
    ]
    got = {
        r.id: r
        for r in DD.exact_substring_dedup(
            spark.createDataFrame(rows), "id", "text", k=4
        ).collect()
    }
    assert got[1].text_clean == f"a b {run} c d"  # first copy kept whole
    assert got[1].n_removed == 0 and got[1].n_spans == 0
    assert got[2].text_clean == "e f g h"
    assert got[2].n_removed == 7 and got[2].n_spans == 1  # maximal run
    assert got[3].n_removed == 0 and got[3].text_clean == rows[2].text


def test_exact_substring_remove_all_mode(spark):
    """keep_first=False cuts every occurrence (the deduplicate-text-
    datasets default); a document that is entirely one duplicated run
    survives as ''."""
    run = "m n o p q"
    rows = [
        Row(id=1, text=f"x {run} y"),
        Row(id=2, text=run),  # the whole document is the run
    ]
    got = {
        r.id: r
        for r in DD.exact_substring_dedup(
            spark.createDataFrame(rows), "id", "text", k=5, keep_first=False
        ).collect()
    }
    assert got[1].text_clean == "x y" and got[1].n_removed == 5
    assert got[2].text_clean == "" and got[2].n_removed == 5
    assert got[2].n_words == 5 and got[2].n_spans == 1


def test_exact_substring_within_doc_repeat(spark):
    """Within-document repeats count toward min_count (Lee et al.
    semantics): a run repeated twice inside ONE document loses its
    second occurrence in keep_first mode."""
    run = "p1 p2 p3 p4"
    rows = [Row(id=1, text=f"{run} mid1 mid2 {run} tail")]
    got = DD.exact_substring_dedup(
        spark.createDataFrame(rows), "id", "text", k=4
    ).collect()[0]
    assert got.text_clean == f"{run} mid1 mid2 tail"
    assert got.n_removed == 4 and got.n_spans == 1


def test_exact_substring_abutting_runs_merge(spark):
    """Two duplicated windows at stride exactly k (abutting coverage)
    merge into one maximal span, not two."""
    r1, r2 = "a1 a2 a3", "b1 b2 b3"
    rows = [
        Row(id=1, text=f"{r1} {r2} u1"),
        Row(id=2, text=f"{r1} {r2} u2"),
    ]
    got = {
        r.id: r
        for r in DD.exact_substring_dedup(
            spark.createDataFrame(rows), "id", "text", k=3
        ).collect()
    }
    # doc 2 loses the whole 6-word prefix as ONE maximal span (the
    # 4 overlapping windows inside 'a1..b3' chain plus the abutment)
    assert got[2].text_clean == "u2"
    assert got[2].n_removed == 6 and got[2].n_spans == 1
    assert got[1].n_removed == 0


def test_exact_substring_short_doc_passthrough(spark):
    """Documents shorter than k words have no windows and pass through
    untouched even when they equal each other exactly."""
    rows = [Row(id=1, text="same tiny"), Row(id=2, text="same tiny")]
    got = {
        r.id: r
        for r in DD.exact_substring_dedup(
            spark.createDataFrame(rows), "id", "text", k=3
        ).collect()
    }
    assert all(
        got[i].text_clean == "same tiny" and got[i].n_removed == 0
        for i in (1, 2)
    )


def test_exact_substring_matches_duckdb(spark, duck, sf_dir):
    """Full differential on the documents corpus, both modes."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for kf in (True, False):
        got = DD.exact_substring_dedup(
            d, "doc_id", "text", k=6, keep_first=kf
        ).toPandas()
        want = duck.execute(
            DD.exact_substring_dedup_sql(
                "documents", "doc_id", "text", k=6, keep_first=kf
            )
        ).df()
        assert_frames_match(got, want, f"exact_substring keep_first={kf}")


def test_exact_substring_incremental_loop(spark, tmp_path):
    """The daily-crawl loop: (a) a run the store's corpus holds is cut
    from EVERY batch occurrence (the store keeps the canonical copy);
    (b) a batch-only repeat keeps its first occurrence; (c) with
    update_store=True the survivors' trimmed fingerprints append, so
    re-ingesting the same batch text cuts it entirely — the loop
    invariant that the store describes the deduplicated corpus."""
    run = "s1 s2 s3 s4"  # in the store corpus
    fresh = "f1 f2 f3 f4"  # batch-only repeat
    store_docs = spark.createDataFrame(
        [Row(id=0, text=f"corpus head {run} corpus tail")]
    )
    path = str(tmp_path / "substr_store")
    DD.save_substring_store(store_docs, path, "text", k=4)

    batch = spark.createDataFrame(
        [
            Row(id=10, text=f"a b {run} c"),  # store hit: cut
            Row(id=11, text=f"{run} solo"),  # store hit too: cut
            Row(id=12, text=f"{fresh} x1 {fresh} y1"),  # keeps first copy
        ]
    )
    got = {
        r.id: r
        for r in DD.exact_substring_dedup_incremental(
            batch, path, "id", "text", k=4, update_store=True
        ).collect()
    }
    assert got[10].text_clean == "a b c" and got[10].n_removed == 4
    assert got[11].text_clean == "solo"  # every occurrence cut, not rank-1-kept
    assert got[12].text_clean == f"{fresh} x1 y1" and got[12].n_spans == 1

    # re-ingest the survivors' text under new ids: everything is now in
    # the store, so every >=k-word window is cut
    again = spark.createDataFrame(
        [Row(id=20, text=got[12].text_clean), Row(id=21, text="a b c d")]
    )
    got2 = {
        r.id: r
        for r in DD.exact_substring_dedup_incremental(
            again, path, "id", "text", k=4, update_store=False
        ).collect()
    }
    assert got2[20].n_removed == got2[20].n_words  # fully duplicate
    assert got2[21].text_clean == "a b c d"  # genuinely new text survives


def test_exact_substring_skew_safe_agrees(spark, sf_dir):
    """The skew_safe (groupBy + join, window-free) occurrence
    selection must produce byte-identical output to the default
    fp-window form on the real corpus, in every (keep_first,
    min_count) combination."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for kf, mc in ((True, 2), (False, 2), (True, 3)):
        base = sorted(
            DD.exact_substring_dedup(
                d, "doc_id", "text", k=6, min_count=mc, keep_first=kf
            ).collect()
        )
        safe = sorted(
            DD.exact_substring_dedup(
                d,
                "doc_id",
                "text",
                k=6,
                min_count=mc,
                keep_first=kf,
                skew_safe=True,
            ).collect()
        )
        assert base == safe, (kf, mc)


def test_exact_substring_incremental_skew_safe_agrees(spark, tmp_path, sf_dir):
    """Incremental probe: skew_safe path matches the window path on a
    real store/batch split (store = even doc_ids, batch = odd)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    outs = []
    for i, safe in enumerate((False, True)):
        path = str(tmp_path / f"substr_store_{i}")
        DD.save_substring_store(store_docs, path, "text", k=6)
        outs.append(
            sorted(
                DD.exact_substring_dedup_incremental(
                    batch,
                    path,
                    "doc_id",
                    "text",
                    k=6,
                    update_store=False,
                    skew_safe=safe,
                ).collect()
            )
        )
    assert outs[0] == outs[1]


def test_exact_substring_incremental_lazy_matches_materialized(
    spark, tmp_path, sf_dir
):
    """materialize=False (the single-consumer fast path: no eager
    localCheckpoint job) must return byte-identical output to the
    default materialized form on a real store/batch split."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "substr_store_lazy")
    DD.save_substring_store(store_docs, path, "text", k=6)
    outs = [
        sorted(
            DD.exact_substring_dedup_incremental(
                batch,
                path,
                "doc_id",
                "text",
                k=6,
                update_store=False,
                materialize=mat,
            ).collect()
        )
        for mat in (True, False)
    ]
    assert outs[0] == outs[1]


def test_exact_substring_rejects_bad_params(spark):
    df = spark.createDataFrame([Row(id=1, text="a b c")])
    with pytest.raises(ValueError):
        DD.exact_substring_dedup(df, "id", "text", k=0)
    with pytest.raises(ValueError):
        DD.exact_substring_dedup(df, "id", "text", min_count=1)


# ---------------------------------------------------------------------------
# data-quality expectations
# ---------------------------------------------------------------------------

def test_check_expectations_counts_and_null_semantics(spark):
    """Violation counts are exact, NULL evaluations are violations, and
    pass_rate_ppm is the half-up integer ppm."""
    from oracle_duckdb_sync_spark.operators import quality as DQ

    rows = [
        Row(v=1.0, s="ok"), Row(v=-2.0, s="ok"),
        Row(v=None, s="bad"), Row(v=3.0, s=None),
    ]
    df = spark.createDataFrame(rows)
    rep = {
        r.rule: r
        for r in DQ.check_expectations(
            df,
            {
                "v_positive": F.col("v") > 0,        # NULL v -> violation
                "s_ok": "s = 'ok'",                  # NULL s -> violation
                "always": F.lit(True),
            },
        ).collect()
    }
    assert rep["v_positive"].n_violations == 2  # -2.0 and NULL
    assert rep["s_ok"].n_violations == 2        # 'bad' and NULL
    assert rep["always"].n_violations == 0
    assert rep["always"].pass_rate_ppm == 1_000_000
    assert rep["v_positive"].pass_rate_ppm == 500_000
    assert all(r.n_rows == 4 for r in rep.values())


def test_enforce_expectations_gate(spark):
    from oracle_duckdb_sync_spark.operators import quality as DQ

    df = spark.createDataFrame([Row(v=1), Row(v=-1)])
    out = DQ.enforce_expectations(df, {"v_any": F.col("v").isNotNull()})
    assert out.count() == 2  # passes through unchanged
    with pytest.raises(ValueError, match="v_positive"):
        DQ.enforce_expectations(df, {"v_positive": F.col("v") > 0})
    # tolerance: one violation allowed
    DQ.enforce_expectations(df, {"v_positive": F.col("v") > 0}, max_violations=1)


def test_check_expectations_single_aggregate_plan(spark, sf_dir):
    """All rules must share ONE aggregate pass (no per-rule jobs)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dq_expectations_events"](spark, sf_dir)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # single-partition agg + output sort


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def _pq_books(m, k, sub, seed=3):
    """Deterministic synthetic codebooks whose every centroid has norm
    exactly 1/sqrt(m) — so ANY concatenation of one centroid per
    subspace is a unit vector, making pq_encode's normalization the
    identity and the test quantization-free."""
    import math

    x = seed
    books = []
    for _s in range(m):
        book = []
        for _c in range(k):
            cv = []
            for _d in range(sub):
                x = (x * 48271) % 2147483647
                cv.append(x / 2147483647.0 * 2 - 1)
            n = math.sqrt(sum(v * v for v in cv)) * math.sqrt(m)
            book.append([v / n for v in cv])
        books.append(book)
    return books


def test_pq_lossless_on_codebook_vectors(spark):
    """Vectors built by concatenating codebook centroids (unit norm by
    construction) must encode to exactly those codes, the ADC score
    must equal the exact cosine to fp precision, and PQ top-k must
    equal exact top-k."""
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    m, k, sub = 4, 5, 4
    books = _pq_books(m, k, sub)
    rows, want_codes = [], {}
    x = 17
    for i in range(40):
        picks = []
        for s in range(m):
            x = (x * 48271) % 2147483647
            picks.append(x % k)
        vec = [v for s, c in enumerate(picks) for v in books[s][c]]
        rows.append(Row(vec_id=i, embedding=vec))
        want_codes[i] = picks
    df = spark.createDataFrame(rows)
    codes = {r.vec_id: list(r.codes) for r in SIM.pq_encode(df, books).collect()}
    assert codes == want_codes
    codes_df = SIM.pq_encode(df, books)
    q = books[0][0] + books[1][1] + books[2][2] + books[3][3]
    adc = {r.vec_id: r.score_pq for r in SIM.pq_topk(codes_df, q, books, 40).collect()}
    exact = {r.vec_id: r.cosine for r in SIM.cosine_topk(df, q, 40).collect()}
    for i in adc:
        # cosine_topk rounds to 6 dp (its oracle convention)
        assert adc[i] == pytest.approx(exact[i], abs=1e-6)
    top_adc = sorted(adc, key=lambda i: (-adc[i], i))[:5]
    top_exact = sorted(exact, key=lambda i: (-exact[i], i))[:5]
    assert top_adc == top_exact


def test_pq_codes_shape_and_determinism(emb):
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    books = SIM.train_pq_codebooks(emb, m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    codes = SIM.pq_encode(emb, books)
    rows = codes.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    again = SIM.train_pq_codebooks(emb, m=8, k=16)
    assert books == again  # fixed seeds -> identical codebooks


def test_pq_rerank_scores_exact_and_recall_monotone(emb):
    """Rerank output carries EXACT cosines (full-precision pass over
    the shortlist only), and widening the shortlist never lowers
    recall vs the exact top-k."""
    from oracle_duckdb_sync_spark.operators import similarity as SIM

    books = SIM.train_pq_codebooks(emb, m=8, k=16)
    codes = SIM.pq_encode(emb, books).cache()
    q = SIM._lcg_floats(64, seed=99)
    exact = {r.vec_id: r.cosine for r in SIM.cosine_topk(emb, q, 10).collect()}
    r_small = SIM.pq_topk_rerank(emb, codes, q, books, 10, shortlist_mult=4).collect()
    r_large = SIM.pq_topk_rerank(emb, codes, q, books, 10, shortlist_mult=20).collect()
    for r in r_small:  # any overlap with exact must agree on the score
        if r.vec_id in exact:
            assert r.cosine == pytest.approx(exact[r.vec_id], abs=1e-9)
    rec = lambda rows: len({r.vec_id for r in rows} & set(exact)) / 10  # noqa: E731
    assert rec(r_large) >= rec(r_small)
    assert rec(r_large) >= 0.5  # 200-of-500 shortlist recovers most
    codes.unpersist()


def test_opq_rotation_improves_recall_on_anisotropic_vectors(spark):
    """The parametric OPQ rotation (PCA basis + eigenvalue-balanced
    subspace allocation) must beat plain PQ recall@10 at the SAME code
    budget on anisotropic vectors: the dominant-variance directions
    sit in ADJACENT coordinates, so plain PQ's first contiguous block
    hogs nearly all the energy (its k codes saturate) while the other
    blocks spend full codebooks quantizing noise — exactly the regime
    Ge et al. 2013's eigenvalue-allocation rule exists for (measured
    here: 0.26 → 0.64 recall@10 at m=4, k=8). Also pins: the rotation
    is orthonormal, deterministic on refit, and the encoded codes stay
    in range."""
    import numpy as np

    from oracle_duckdb_sync_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    d, n, m, kcodes = 16, 400, 4, 8
    scales = np.array([6.0, 5.0, 4.0, 3.5] + [0.3] * 12)
    X = rng.standard_normal((n, d)) * scales
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    R = SIM.opq_rotation(emb, m=m)
    Rm = np.array(R)
    assert np.allclose(Rm @ Rm.T, np.eye(d), atol=1e-9)  # orthonormal
    assert R == SIM.opq_rotation(emb, m=m)  # deterministic rebuild

    books_pq = SIM.train_pq_codebooks(emb, m=m, k=kcodes)
    books_opq = SIM.train_pq_codebooks(emb, m=m, k=kcodes, rotation=R)
    codes_pq = SIM.pq_encode(emb, books_pq).cache()
    codes_opq = SIM.pq_encode(emb, books_opq, rotation=R).cache()
    assert all(
        0 <= c < kcodes for r in codes_opq.collect() for c in r.codes
    )

    Xn = X / np.linalg.norm(X, axis=1)[:, None]

    def recall(codes, books, rotation, queries):
        hits = 0
        for qi in queries:
            q = [float(x) for x in X[qi]]
            exact = set(
                np.argsort(-(Xn @ (np.array(q) / np.linalg.norm(q))))[:10]
            )
            got = {
                r.vec_id
                for r in SIM.pq_topk(
                    codes, q, books, 10, rotation=rotation
                ).collect()
            }
            hits += len(exact & got)
        return hits / (10 * len(queries))

    queries = [3, 57, 111, 222, 333]
    r_pq = recall(codes_pq, books_pq, None, queries)
    r_opq = recall(codes_opq, books_opq, R, queries)
    codes_pq.unpersist()
    codes_opq.unpersist()
    # the margin is the point: same bytes, better recall
    assert r_opq >= r_pq + 0.2, (r_opq, r_pq)


def test_pearson_by_group_long_moments_bitwise_identical(spark):
    """moments='long' (limb-split int64 partials) must reproduce the
    DECIMAL path bit-for-bit — including negative cross-products
    (negative sign limbs), nulls, and zero-variance groups."""
    import random

    from oracle_duckdb_sync_spark.operators import aggregate as A

    rng = random.Random(12)
    rows = []
    for g in ("up", "down", "noise"):
        for _ in range(200):
            x = rng.uniform(-1e4, 1e4)
            y = (
                x * 3 + rng.uniform(-5, 5)
                if g == "up"
                else (-x * 2 + rng.uniform(-5, 5) if g == "down" else rng.uniform(-100, 100))
            )
            rows.append(Row(g=g, x=round(x, 2), y=float(round(y))))
    rows.append(Row(g="up", x=None, y=1.0))
    rows.append(Row(g="flat", x=5.0, y=1.0))
    rows.append(Row(g="flat", x=5.0, y=9.0))
    df = spark.createDataFrame(rows)
    dec = {
        r.g: r for r in A.pearson_by_group(df, "g", "x", "y", 2, 0).collect()
    }
    lng = {
        r.g: r
        for r in A.pearson_by_group(
            df, "g", "x", "y", 2, 0, moments="long"
        ).collect()
    }
    assert set(dec) == set(lng)
    for g in dec:
        assert dec[g].n == lng[g].n
        # bit-identical, not approximately equal: same integer moments
        # feed the same three double conversions
        assert dec[g].corr == lng[g].corr, g
        assert dec[g].cov_pop == lng[g].cov_pop, g
    assert dec["down"].corr < -0.99
    assert lng["flat"].corr is None


def test_pearson_by_group_long_moments_near_product_bound(spark):
    """Quantized values near the documented 3.03e9 bound: per-row
    squares approach 2^63 and the high limb carries most of the value
    — the recombination must still match pure-Python bigint math."""
    import math

    from oracle_duckdb_sync_spark.operators import aggregate as A

    # qx = 100*x near 3.0e9 -> qx*qx ~ 9.2e18, just under 2^63
    xs = [3.0e7, -2.9e7, 2.95e7, -3.01e7]
    ys = [2.9e9, -3.0e9, -2.8e9, 2.99e9]
    rows = [Row(g="a", x=x, y=y) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows)
    got = A.pearson_by_group(df, "g", "x", "y", 2, 0, moments="long").collect()[0]

    qx = [round(x * 100) for x in xs]
    qy = [round(y) for y in ys]
    n = len(qx)
    num = n * sum(a * b for a, b in zip(qx, qy)) - sum(qx) * sum(qy)
    vx = n * sum(a * a for a in qx) - sum(qx) ** 2
    vy = n * sum(b * b for b in qy) - sum(qy) ** 2
    want = float(num) / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
    assert got.n == n
    assert abs(got.corr - want) < 1e-12


def test_pearson_by_group_long_moments_bound_guard(spark):
    """Inputs past the documented int64 product bound must fail LOUDLY
    on the long path: under ANSI the per-row product overflow throws,
    and under non-ANSI (where Spark wraps silently — the dangerous
    mode) the rider __qmax guard raises with the documented message
    instead of returning a plausible-looking wrong correlation."""
    from oracle_duckdb_sync_spark.operators import aggregate as A

    rows = [Row(g="a", x=4.0e7, y=1.0), Row(g="a", x=-3.9e7, y=2.0)]
    df = spark.createDataFrame(rows)  # qx = 4e9 > 3_037_000_499
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        with pytest.raises(Exception, match="int64 product bound"):
            A.pearson_by_group(df, "g", "x", "y", 2, 0, moments="long").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    # the decimal default handles the same data exactly
    got = A.pearson_by_group(df, "g", "x", "y", 2, 0).collect()[0]
    assert got.n == 2 and got.corr == pytest.approx(-1.0)


def test_pearson_by_group_long_moments_nonfinite_guard(spark):
    """NaN/Infinity inputs dodge the __qmax overflow guard entirely
    under non-ANSI Spark (-Inf casts to Long.MIN_VALUE whose abs()
    wraps negative; NaN casts to 0) — the long path must detect them
    on the PRE-quantization double and raise the documented message
    instead of returning a plausible-looking wrong correlation."""
    from oracle_duckdb_sync_spark.operators import aggregate as A

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    for bad in (float("nan"), float("inf"), float("-inf")):
        rows = [
            Row(g="a", x=1.0, y=2.0),
            Row(g="a", x=2.0, y=4.0),
            Row(g="a", x=bad, y=6.0),
        ]
        df = spark.createDataFrame(rows)
        try:
            spark.conf.set("spark.sql.ansi.enabled", "false")
            with pytest.raises(Exception, match="non-finite"):
                A.pearson_by_group(
                    df, "g", "x", "y", 2, 0, moments="long"
                ).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
    # NULLs are still fine (excluded rows, SQL corr semantics) and the
    # guard must not fire on an all-finite group
    rows = [
        Row(g="a", x=1.0, y=2.0),
        Row(g="a", x=2.0, y=3.0),
        Row(g="a", x=None, y=9.0),
        Row(g="a", x=3.0, y=5.0),
    ]
    got = A.pearson_by_group(
        spark.createDataFrame(rows), "g", "x", "y", 2, 0, moments="long"
    ).collect()[0]
    assert got.n == 3 and abs(got.corr - 0.9819805060619657) < 1e-12


def test_pearson_by_group_long_moments_min_value_saturation_guard(spark):
    """ADVICE r13: a FINITE input whose quantized value saturates to
    exactly Long.MIN_VALUE (round(x*10^d) <= -2^63, e.g. x = -1e30
    under non-ANSI) passes the __nf NaN/Inf check, and
    abs(Long.MIN_VALUE) wraps negative so __qmax alone never trips —
    the limb products would wrap and return a plausible-looking wrong
    correlation. The __qmin guard (no abs involved) must catch it, and
    any other below-bound negative, loudly."""
    from oracle_duckdb_sync_spark.operators import aggregate as A

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    # -1e30: saturates to Long.MIN_VALUE; -4e7 (qx=-4e9): ordinary
    # below-bound negative whose abs() is fine but square wraps
    for bad in (-1.0e30, -4.0e7):
        rows = [
            Row(g="a", x=1.0, y=2.0),
            Row(g="a", x=2.0, y=4.0),
            Row(g="a", x=bad, y=6.0),
        ]
        df = spark.createDataFrame(rows)
        try:
            spark.conf.set("spark.sql.ansi.enabled", "false")
            with pytest.raises(Exception, match="int64 product bound"):
                A.pearson_by_group(
                    df, "g", "x", "y", 2, 0, moments="long"
                ).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pearson_by_group_large_magnitudes_exact(spark):
    """Per-row moment products past the LONG wrap point (~3e9 quantized)
    must stay exact: the products run in DECIMAL, matching the DuckDB
    twin's HUGEINT arithmetic and a pure-Python bigint computation."""
    import math

    from oracle_duckdb_sync_spark.operators import aggregate as A

    # x ~ 1e8 with 2 decimals -> qx ~ 1e10; qx*qx ~ 1e20 >> 2^63
    xs = [1.0e8, 2.5e8, 4.2e8, 3.3e8]
    ys = [2.0e8, 1.0e8, 5.0e8, 4.4e8]
    rows = [Row(g="a", x=x, y=y) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows)
    got = A.pearson_by_group(df, "g", "x", "y", 2, 0).collect()[0]

    qx = [round(x * 100) for x in xs]
    qy = [round(y) for y in ys]
    n = len(qx)
    num = n * sum(a * b for a, b in zip(qx, qy)) - sum(qx) * sum(qy)
    vx = n * sum(a * a for a in qx) - sum(qx) ** 2
    vy = n * sum(b * b for b in qy) - sum(qy) ** 2
    want = float(num) / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
    assert got.n == n
    assert abs(got.corr - want) < 1e-12


def test_semantic_dedup_keeps_min_id_within_cell(spark):
    """SemDeDup policy: identical/near-identical embeddings in the same
    cell collapse to the lowest id; near-dups in DIFFERENT cells are
    never compared (cluster-scoped by design); pairs report the cell."""
    from oracle_duckdb_sync_spark.operators import similarity as S

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows = [
        # cell 0: ids 10, 11 identical -> 11 dropped; 12 orthogonal-ish
        Row(vec_id=10, embedding=[1.0, 0.1, 0.0, 0.0]),
        Row(vec_id=11, embedding=[1.0, 0.1, 0.0, 0.0]),
        Row(vec_id=12, embedding=[0.9, 0.0, 0.9, 0.0]),
        # cell 1: id 20 is a near-dup of 10 but lives in another cell
        Row(vec_id=20, embedding=[0.2, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    pairs = S.semantic_dedup_pairs(df, cents, threshold=0.95).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(10, 11)}
    assert all(p.cosine >= 0.95 for p in pairs)
    kept = {r.vec_id: r.cell for r in S.semantic_dedup(df, cents, 0.95).collect()}
    assert set(kept) == {10, 12, 20}
    assert kept[10] == 0 and kept[20] == 1


def test_semantic_dedup_max_cell_guard(spark):
    """Viral-cell safety (the max_band_bucket convention): a skewed
    k-means cell larger than max_cell fails fast with the cell id in
    the message instead of silently running a quadratic task; an
    explicit max_cell=None opt-out still runs it."""
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows = [  # every vector lands in cell 0 — deliberately viral
        Row(vec_id=i, embedding=[1.0, float(i % 7) / 100.0, 0.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    with pytest.raises(Exception, match="max_cell"):
        SIM.semantic_dedup(df, cents, 0.9, max_cell=10).collect()
    with pytest.raises(Exception, match="max_cell"):
        SIM.semantic_dedup_pairs(df, cents, 0.9, max_cell=10).collect()
    # opt-out: bounded work is the caller's problem, results unchanged
    kept = SIM.semantic_dedup(df, cents, 0.999999, max_cell=None)
    assert kept.count() == 7  # 7 distinct directions, min id each


def test_semantic_dedup_pairs_bitmatch_expression_form(spark):
    """The BLAS kernel must be value-IDENTICAL to the interpreted
    expression form it replaced (fold-order dots via cumsum + Spark
    HALF_UP rounding): same pair set, same cosines to the last bit —
    this is what keeps the DuckDB oracle hash-matching."""
    dim, n = 8, 60
    vals = SIM._lcg_floats(n * dim, seed=3)
    rows = [
        Row(vec_id=i, embedding=[vals[i * dim + j] for j in range(dim)])
        for i in range(n)
    ]
    # seed near-dup clusters so pairs exist at a mid threshold
    for i in range(0, n, 9):
        v = list(rows[i].embedding)
        v[0] += 1e-3
        rows.append(Row(vec_id=n + i, embedding=v))
    df = spark.createDataFrame(rows)
    cents = [(0, rows[0].embedding), (1, rows[1].embedding),
             (2, rows[2].embedding)]
    got = sorted(
        (r.cell, r.id_a, r.id_b, r.cosine)
        for r in SIM.semantic_dedup_pairs(df, cents, 0.30).collect()
    )
    assigned = SIM.ivf_assignments(df, cents)
    a = assigned.select("cell", F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("va"))
    b = assigned.select("cell", F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("vb"))
    want = sorted(
        (r.cell, r.id_a, r.id_b, r.cosine)
        for r in a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cell", "id_a", "id_b",
                SIM.cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= 0.30)
        .collect()
    )
    assert len(got) > 5  # the scenario actually exercises pairs
    assert got == want  # exact float equality, not approx


def test_spark_round6_np_matches_spark_round(spark):
    """The numpy HALF_UP replica must agree with Spark's round(x, 6)
    everywhere, including the .5 tie line (where Java rounds the
    shortest-repr decimal, not the binary expansion) and non-finite
    passthrough."""
    import math

    import numpy as np

    vals = [0.3499995, -0.3499995, 0.9499995, 0.35000049999999,
            0.1234564999999, 1e-7, -1e-7, 0.0, 1.0, 0.51234567891,
            float("inf"), float("-inf"), float("nan"),
            0.9999995, -0.9999995, 2.5e-7, 7.5e-7]
    got = SIM._spark_round6_np(np.array(vals))
    want = [
        r.y
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6).alias("y")).collect()
    ]
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == w, (g, w)


def test_semantic_dedup_from_index_matches_inline(spark, tmp_path):
    """The persisted-index SemDeDup pass (zero assignment arithmetic —
    cells come from the partition directories) returns exactly the
    inline operator's survivors under the same centroids, including
    after an append batch lands in the same index layout."""
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows = [
        Row(vec_id=10, embedding=[1.0, 0.1, 0.0, 0.0]),
        Row(vec_id=11, embedding=[1.0, 0.1, 0.0, 0.0]),
        Row(vec_id=12, embedding=[0.9, 0.0, 0.9, 0.0]),
        Row(vec_id=20, embedding=[0.2, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "ivf")
    SIM.save_ivf_index(df, cents, path)
    want = sorted(
        (r.vec_id, r.cell) for r in SIM.semantic_dedup(df, cents, 0.95).collect()
    )
    got = sorted(
        (r.vec_id, r.cell)
        for r in SIM.semantic_dedup_from_index(spark, path, 0.95).collect()
    )
    assert got == want == [(10, 0), (12, 0), (20, 1)]
    # append a batch: near-dup of 10 (higher id -> dropped) + a fresh doc
    batch = spark.createDataFrame(
        [Row(vec_id=30, embedding=[1.0, 0.1, 0.0, 0.0]),
         Row(vec_id=31, embedding=[0.0, 0.9, 0.8, 0.0])]
    )
    SIM.save_ivf_index(batch, cents, path, mode="append")
    after = sorted(
        (r.vec_id, r.cell)
        for r in SIM.semantic_dedup_from_index(spark, path, 0.95).collect()
    )
    assert after == [(10, 0), (12, 0), (20, 1), (31, 1)]  # 30 lost to 10


def test_prepare_corpus_semantic_stage_cell_scoped(spark):
    """embed_centroids switches the funnel's semantic stage to the
    cell-scoped SemDeDup engine: same-cell near-dups collapse to the
    min id, cross-cell near-dups are (by the paper's approximation)
    never compared, and the viral-cell guard threads through."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    rows = [
        Row(doc_id=i, text=t)
        for i, t in {
            1: "the data pipeline reads events and writes clean tables",
            4: "a different sentence about the spark engine and optimizer",
            6: "yet another unrelated document on streams joins and windows",
            8: "a fourth distinct document about caches locks and schedulers",
        }.items()
    ]
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    emb = [
        Row(vec_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),   # cell 1
        Row(vec_id=4, embedding=[0.0, 2.0, 0.0, 0.0]),   # cell 1, dup of 1
        # 6 is a near-dup of 1/4 by cosine but lands in cell 0: never
        # compared cross-cell -> survives under the cell-scoped engine
        Row(vec_id=6, embedding=[1.0, 0.95, 0.0, 0.0]),
        Row(vec_id=8, embedding=[1.0, -0.8, 0.0, 0.0]),  # cell 0, far from 6
    ]
    _corpus, stats = prepare_corpus(
        spark.createDataFrame(rows),
        min_quality=0.0,
        jaccard_threshold=0.9,
        shingle_k=2,
        embeddings=spark.createDataFrame(emb),
        embed_threshold=0.6,
        embed_centroids=cents,
    )
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s["semantic_deduped"] == 3  # only 4 lost (to 1, same cell)
    with pytest.raises(Exception, match="max_cell"):
        prepare_corpus(
            spark.createDataFrame(rows),
            min_quality=0.0,
            jaccard_threshold=0.9,
            shingle_k=2,
            embeddings=spark.createDataFrame(emb),
            embed_threshold=0.6,
            embed_centroids=[(0, [1.0, 0.0, 0.0, 0.0])],  # one viral cell
            embed_max_cell=2,
        )[1].collect()


def test_spark_round6_np_random_sweep(spark):
    """Property sweep for the HALF_UP replica: 400 LCG-deterministic
    doubles spanning magnitudes, signs, and grid-adjacent values (±1
    ulp around .5 ties) must round identically to Spark in one job."""
    import math
    import struct

    import numpy as np

    def nudge(x, n):
        """n ulps away from x (toward +inf for n>0)."""
        for _ in range(abs(n)):
            x = math.nextafter(x, math.inf if n > 0 else -math.inf)
        return x

    vals = []
    raw = SIM._lcg_floats(200, seed=99)
    vals += [v for v in raw]                       # [-1, 1) spread
    vals += [v * 1e-5 for v in raw[:50]]           # sub-grid magnitudes
    vals += [v * 1e3 for v in raw[:50]]            # large magnitudes
    # grid-adjacent: exact .5 ties and their ±1-ulp neighbors
    for k in range(1, 40):
        t = (2 * k + 1) / 2_000_000  # k.5 * 1e-6 ties
        vals += [t, nudge(t, 1), nudge(t, -1), -t, nudge(-t, 1)]
    got = SIM._spark_round6_np(np.array(vals, dtype=np.float64))
    want = [
        r.y
        for r in spark.createDataFrame([(float(v),) for v in vals], "x double")
        .select(F.round("x", 6).alias("y")).collect()
    ]
    bad = [
        (v, g, w)
        for v, g, w in zip(vals, got, want)
        if not (math.isnan(g) and math.isnan(w)) and g != w
    ]
    assert not bad, bad[:5]


# -- lexical retrieval (TF-IDF / BM25) ---------------------------------------


def test_tfidf_hand_computed(spark):
    """Pinned semantics on a hand-checkable corpus: 4 docs, terms
    ('cat', 'dog'). df(cat)=2, df(dog)=1, n=4 →
    idf_e6(cat)=2_000_000, idf_e6(dog)=4_000_000.
    Scores: d1 = 2·cat = 4M; d2 = 1·cat + 1·dog = 6M; d3 = 0; d4 = 0."""
    from oracle_duckdb_sync_spark.operators import retrieval as RT

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat cat bird"),
            Row(doc_id=2, text="cat dog"),
            Row(doc_id=3, text="bird bird"),
            Row(doc_id=4, text="fish"),
        ]
    )
    got = {
        r["doc_id"]: r["score_e6"]
        for r in RT.tfidf_topk(df, ["cat", "dog"], k=10).collect()
    }
    assert got == {2: 6_000_000, 1: 4_000_000}


def test_term_tf_strategies_identical(spark, sf_dir):
    """The map-only array-filter term counter (small term lists) and
    the explode+aggregate form (above TERM_SCAN_MAX_TERMS) must be
    value-identical — the threshold is a pure plan choice. Forced by
    monkeying the threshold, checked on the real documents corpus."""
    from oracle_duckdb_sync_spark.operators import retrieval as RT

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["join", "window", "hash", "vector"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    small = rows(RT._term_tf(d, terms, "doc_id", "text"))
    old = RT.TERM_SCAN_MAX_TERMS
    try:
        RT.TERM_SCAN_MAX_TERMS = 0  # force the explode form
        big = rows(RT._term_tf(d, terms, "doc_id", "text"))
        full_explode = rows(RT.bm25_topk(d, terms, k=20))
    finally:
        RT.TERM_SCAN_MAX_TERMS = old
    assert small == big
    assert rows(RT.bm25_topk(d, terms, k=20)) == full_explode


def test_bm25_saturation_and_length_norm(spark):
    """BM25 behaviour pins: (a) tf saturates — doubling tf less than
    doubles the score; (b) longer documents are discounted at equal tf;
    (c) scores match a pure-Python rational replica exactly."""
    from oracle_duckdb_sync_spark.operators import retrieval as RT

    rows = [
        Row(doc_id=1, text="cat mouse"),
        Row(doc_id=2, text="cat cat mouse mouse"),
        Row(doc_id=3, text="cat mouse mouse mouse mouse mouse mouse mouse"),
        Row(doc_id=4, text="bird"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["doc_id"]: r["score_e6"]
        for r in RT.bm25_topk(df, ["cat"], k=10).collect()
    }

    # python replica of the documented integer formula
    texts = {r.doc_id: r.text.split() for r in rows}
    nd = len(texts)
    al = sum(len(t) for t in texts.values())
    dfreq = sum(1 for t in texts.values() if "cat" in t)
    idf_e6 = (nd * 1_000_000) // dfreq
    want = {}
    for d, toks in texts.items():
        tf = toks.count("cat")
        if not tf:
            continue
        dl = len(toks)
        num = 100 * (120 + 100) * al * tf
        den = 10_000 * al * tf + 120 * (100 - 75) * al + 120 * 75 * dl * nd
        sat_e6 = (1_000_000 * num) // den
        want[d] = (idf_e6 * sat_e6) // 1_000_000
    assert got == want
    # saturation: tf 2 vs 1 at dl 4 vs 2 — score must rise sub-linearly
    assert got[2] < 2 * got[1]
    # length norm: same tf=1, dl 8 vs 2 — longer doc scores lower
    assert got[3] < got[1]


def test_postings_index_roundtrip_and_append(spark, tmp_path):
    """The persisted postings index must (a) reproduce the inline
    scorers exactly (both TF-IDF and BM25), (b) prune its read to the
    query terms' buckets, and (c) absorb an appended batch as pure
    appends — scores over the union equal a fresh inline run."""
    from oracle_duckdb_sync_spark.operators import retrieval as RT

    batch1 = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat cat bird"),
            Row(doc_id=2, text="cat dog"),
            Row(doc_id=3, text="bird bird fish"),
        ]
    )
    batch2 = spark.createDataFrame(
        [Row(doc_id=4, text="dog dog dog"), Row(doc_id=5, text="fish cat")]
    )
    path = str(tmp_path / "idx")
    RT.save_postings_index(batch1, path)
    terms = ["cat", "dog"]

    def rows(df):
        return [(r["doc_id"], r["score_e6"]) for r in df.collect()]

    assert rows(RT.tfidf_topk_from_index(spark, path, terms, k=10)) == rows(
        RT.tfidf_topk(batch1, terms, k=10)
    )
    assert rows(RT.bm25_topk_from_index(spark, path, terms, k=10)) == rows(
        RT.bm25_topk(batch1, terms, k=10)
    )

    # incremental growth: append batch2, compare against inline union
    RT.save_postings_index(batch2, path, mode="append")
    union = batch1.unionByName(batch2)
    assert rows(RT.tfidf_topk_from_index(spark, path, terms, k=10)) == rows(
        RT.tfidf_topk(union, terms, k=10)
    )
    assert rows(RT.bm25_topk_from_index(spark, path, terms, k=10)) == rows(
        RT.bm25_topk(union, terms, k=10)
    )

    # crc32 write/read agreement: every postings row sits in the bucket
    # the reader would probe for its token
    import zlib

    got = spark.read.parquet(path + "/postings").select("token", "tb").collect()
    assert got and all(
        r["tb"] == zlib.crc32(r["token"].encode()) % RT.N_BUCKETS for r in got
    )


def test_prepare_corpus_keepbest_and_leakage_safe(spark):
    """survivor_rule='best_quality': the HIGHER-quality member of the
    near-dup cluster survives even with the higher id; leakage_safe
    gives that survivor the SAME split the min-id survivor would get
    (cluster-keyed hash -> replacing a survivor never re-rolls its
    split)."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus
    from oracle_duckdb_sync_spark.operators.sampling import split_assign

    base = "the data pipeline reads events and writes clean partitioned tables"
    # doc 3 is a near-dup of 1 (bigram jaccard 0.69) but strictly higher
    # quality (1.0 vs 0.92); keep-first would keep 1, keep-best keeps 3.
    # 16 bands of 2 rows so the 0.69-jaccard pair reliably collides.
    richer = base + " and it is good"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=3, text=richer),
        Row(doc_id=4, text="a completely different sentence about the spark engine and its very good optimizer"),
    ]
    df = spark.createDataFrame(rows)
    corpus, stats = prepare_corpus(
        df,
        min_quality=0.0,
        jaccard_threshold=0.5,
        shingle_k=2,
        num_perm=32,
        bands=16,
        survivor_rule="best_quality",
        leakage_safe=True,
    )
    out = {r["doc_id"]: r for r in corpus.collect()}
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s["neardup_deduped"] == 2
    assert set(out) == {3, 4}, "keep-best must keep the richer near-dup"
    # quality sanity: the survivor really is the better-scoring member
    corpus_min, _ = prepare_corpus(
        df,
        min_quality=0.0,
        jaccard_threshold=0.5,
        shingle_k=2,
        num_perm=32,
        bands=16,
    )
    min_out = {r["doc_id"]: r for r in corpus_min.collect()}
    assert set(min_out) == {1, 4}
    assert out[3]["quality_score"] >= min_out[1]["quality_score"]
    # leakage-safety: doc 3's split == the cluster id (=1) split, i.e.
    # exactly what the min-id survivor was assigned
    assert out[3]["split"] == min_out[1]["split"]
    # unclustered doc 4: same split under either rule
    assert out[4]["split"] == min_out[4]["split"]


def test_prepare_corpus_rejects_bad_survivor_rule(spark):
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    with pytest.raises(ValueError, match="survivor_rule"):
        prepare_corpus(
            spark.createDataFrame([Row(doc_id=1, text="x")]),
            survivor_rule="newest",
        )


# -- n-gram LM fluency -------------------------------------------------------


def test_lm_score_orders_fluency(spark):
    """Under a model trained on fluent text, a shuffled-garbage doc
    must score a strictly higher NLL than an in-distribution doc; a
    one-token doc has no transitions and is absent."""
    from oracle_duckdb_sync_spark.operators.lm import lm_score, train_bigram_lm

    fluent = [
        Row(doc_id=i, text="the data pipeline reads events and writes clean tables every day")
        for i in range(1, 9)
    ]
    train = spark.createDataFrame(
        fluent + [Row(doc_id=100, text="the spark engine plans joins and windows")]
    )
    model = train_bigram_lm(train)
    score_in = Row(doc_id=1, text="the data pipeline reads events")
    score_garbage = Row(doc_id=2, text="tables day clean the writes and pipeline")
    score_short = Row(doc_id=3, text="hello")
    out = {
        r["doc_id"]: r
        for r in lm_score(
            spark.createDataFrame([score_in, score_garbage, score_short]), model
        ).collect()
    }
    assert set(out) == {1, 2}, "one-token doc has no bigrams"
    assert out[2]["nll"] > out[1]["nll"]
    assert out[1]["n_bigrams"] == 4


def test_lm_perplexity_buckets_per_lang_tiers(spark):
    """CCNet bucketing pins: tiles are per-LANGUAGE (each language's
    docs split into their own thirds regardless of the other's
    absolute NLLs), NTILE hands remainder rows to the leading tiles,
    garbage ranks tail within its language, and sub-2-token docs are
    absent like lm_score."""
    from oracle_duckdb_sync_spark.operators.lm import (
        lm_perplexity_buckets,
        train_bigram_lm,
    )

    fluent_en = "the data pipeline reads events and writes clean tables"
    fluent_de = "der motor liest die daten und schreibt saubere tabellen"
    train = spark.createDataFrame(
        [Row(doc_id=i, text=fluent_en, lang="en") for i in range(1, 7)]
        + [Row(doc_id=10 + i, text=fluent_de, lang="de") for i in range(1, 7)]
    )
    model = train_bigram_lm(train)
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=fluent_en, lang="en"),
            Row(doc_id=2, text="the data pipeline reads events", lang="en"),
            Row(doc_id=3, text="tables clean writes and the reads zz", lang="en"),
            Row(doc_id=4, text="qq ww ee rr tt yy uu", lang="en"),  # garbage
            Row(doc_id=11, text=fluent_de, lang="de"),
            Row(doc_id=12, text="der motor liest die daten", lang="de"),
            Row(doc_id=13, text="tabellen der und daten xx", lang="de"),
            Row(doc_id=20, text="solo", lang="en"),  # no bigrams: absent
        ]
    )
    got = {
        r["doc_id"]: r for r in lm_perplexity_buckets(docs, model).collect()
    }
    assert set(got) == {1, 2, 3, 4, 11, 12, 13}
    # en has 4 scored docs -> NTILE(3) gives tiles of 2/1/1, assigned
    # by ascending nll: the two most fluent are head, the worst is tail
    en_tiles = {i: got[i]["bucket"] for i in (1, 2, 3, 4)}
    assert sorted(en_tiles.values()) == ["head", "head", "middle", "tail"]
    assert en_tiles[1] == "head"  # exactly in-distribution
    en_by_nll = sorted((got[i]["nll"], i) for i in (1, 2, 3, 4))
    assert [en_tiles[i] for _n, i in en_by_nll] == [
        "head", "head", "middle", "tail",
    ]
    # de has 3 scored docs -> exactly one per tier, ordered by nll
    de_sorted = sorted((got[i]["nll"], i) for i in (11, 12, 13))
    assert [got[i]["bucket"] for _n, i in de_sorted] == [
        "head", "middle", "tail",
    ]
    # per-language independence: each language fills every tier even
    # though their absolute NLL ranges differ
    assert {got[i]["bucket"] for i in (11, 12, 13)} == {
        "head", "middle", "tail",
    }


def test_lm_perplexity_buckets_approx_agrees(spark, sf_dir):
    """The approx (sketch-threshold, map-side) path must broadly agree
    with the rank-exact form on the real documents corpus: same
    schema, every doc bucketed, tier sizes within a tolerance of equal
    thirds per language, and ≥90% of per-doc tile assignments
    identical (disagreement is confined to sketch-boundary ties)."""
    from oracle_duckdb_sync_spark.operators.lm import (
        lm_perplexity_buckets,
        train_bigram_lm,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_bigram_lm(d, min_count=2)
    exact = {
        r["doc_id"]: r["tile"]
        for r in lm_perplexity_buckets(d, model).collect()
    }
    approx = {
        r["doc_id"]: r["tile"]
        for r in lm_perplexity_buckets(d, model, approx=True).collect()
    }
    assert set(approx) == set(exact)
    agree = sum(1 for i in exact if exact[i] == approx[i]) / len(exact)
    assert agree >= 0.9, agree
    # per-tier mass stays near a third overall
    from collections import Counter

    c = Counter(approx.values())
    n = len(approx)
    assert all(abs(c[t] / n - 1 / 3) < 0.15 for t in (1, 2, 3)), c


def test_ntile_distributed_matches_window_exactly(spark, sf_dir):
    """The distributed exact NTILE (range-partitioned slices + offset
    join) must be ROW-IDENTICAL to the window NTILE — on the real
    corpus for several bucket counts, and on adversarial group shapes:
    one giant group next to singletons, groups smaller than the bucket
    count (the size-zero tile branch), and n % k remainders."""
    from oracle_duckdb_sync_spark.operators.lm import (
        lm_perplexity_buckets,
        ntile_by_group_distributed,
        train_bigram_lm,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_bigram_lm(d, min_count=2)
    for k in (1, 3, 4, 10):
        a = sorted(
            tuple(r)
            for r in lm_perplexity_buckets(d, model, n_buckets=k).collect()
        )
        b = sorted(
            tuple(r)
            for r in lm_perplexity_buckets(
                d, model, n_buckets=k, distributed=True
            ).collect()
        )
        assert a == b, f"n_buckets={k}"

    # adversarial shapes straight through the generic operator
    import random

    rng = random.Random(61)
    rows = [("big", rng.randrange(10_000), i) for i in range(997)]
    rows += [("one", 5, 10_000)]  # single-row group, n < k
    rows += [("two", v, 10_001 + v) for v in (3, 1)]  # n == 2 < k
    rows += [("mid", v % 37, 20_000 + v) for v in range(100)]  # heavy ties
    df = spark.createDataFrame(rows, "g string, v long, id long")
    for k in (1, 2, 3, 5, 8):
        got = {
            (r["g"], r["id"]): r["tile"]
            for r in ntile_by_group_distributed(
                df, "g", ["v", "id"], k
            ).collect()
        }
        from pyspark.sql import Window as W

        w = W.partitionBy("g").orderBy("v", "id")
        want = {
            (r["g"], r["id"]): r["tile"]
            for r in df.withColumn(
                "tile", F.ntile(k).over(w)
            ).collect()
        }
        assert got == want, f"k={k}"


def test_lm_perplexity_buckets_approx_single_bucket(spark, sf_dir):
    """approx=True with n_buckets=1 must behave like the exact
    NTILE(1) path — every document in tile 1 — rather than failing
    analysis on percentile_approx's empty percentage list."""
    from oracle_duckdb_sync_spark.operators.lm import (
        lm_perplexity_buckets,
        train_bigram_lm,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_bigram_lm(d, min_count=2)
    rows = lm_perplexity_buckets(d, model, n_buckets=1, approx=True).collect()
    assert rows and all(r["tile"] == 1 and r["bucket"] == "b1" for r in rows)
    exact_n = lm_perplexity_buckets(d, model, n_buckets=1).count()
    assert len(rows) == exact_n


def test_lm_pruned_equals_unseen(spark):
    """A bigram pruned by min_count must score exactly like one never
    seen: the add-one floor -ln(1/(c1+V)) — and scoring NEW text
    against a persisted model round-trips through parquet."""
    from oracle_duckdb_sync_spark.operators.lm import lm_score, train_bigram_lm

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),
            Row(doc_id=2, text="a c"),  # "a c" occurs once -> pruned at 2
        ]
    )
    m_pruned = train_bigram_lm(train, min_count=2)
    kept = {(r["w1"], r["w2"]) for r in m_pruned.collect()}
    assert ("a", "c") not in kept and ("a", "b") in kept
    probe = spark.createDataFrame([Row(doc_id=9, text="a c")])
    got = lm_score(probe, m_pruned).collect()[0]
    # unseen "x y" under the same model must score identically: both
    # hit coalesce(n,0)+1 over c1("a")/c1("x") + V... c1 differs; the
    # exact invariant is unseen-with-same-prefix equality
    probe2 = spark.createDataFrame([Row(doc_id=10, text="a z")])
    got2 = lm_score(probe2, m_pruned).collect()[0]
    assert got["nll"] == got2["nll"]


def test_semantic_decontaminate_best_hit_and_threshold(spark):
    """Embedding decontamination: each corpus doc reports its single
    worst (highest-cosine) benchmark hit with (cosine desc, bench id
    asc) tie-break; docs below threshold are absent; the bank order in
    the DataFrame never matters."""
    corpus = spark.createDataFrame(
        [
            Row(vec_id=100, embedding=[1.0, 0.0, 0.0]),  # ties banks 3/5
            Row(vec_id=101, embedding=[0.0, 1.0, 0.0]),  # nearer bank 7
            Row(vec_id=102, embedding=[0.0, 0.0, 1.0]),  # clean
        ]
    )
    bank = spark.createDataFrame(
        [
            Row(bench_id=5, embedding=[1.0, 0.0, 0.0]),
            Row(bench_id=3, embedding=[1.0, 0.0, 0.0]),  # tie -> lower id
            Row(bench_id=7, embedding=[0.1, 1.0, 0.0]),
        ]
    )
    got = {
        r.vec_id: (r.bench_id, r.cosine)
        for r in SIM.semantic_decontaminate(corpus, bank, threshold=0.9).collect()
    }
    assert set(got) == {100, 101}  # 102 is below threshold everywhere
    assert got[100] == (3, 1.0)  # exact tie broken toward bench_id 3
    assert got[101][0] == 7 and got[101][1] >= 0.9


def test_semantic_decontaminate_empty_bank(spark):
    """An empty benchmark bank flags nothing and still returns the
    contracted (corpus_id, bank_id, cosine) schema."""
    corpus = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    bank = spark.createDataFrame([], schema="bench_id bigint, embedding array<double>")
    out = SIM.semantic_decontaminate(corpus, bank, threshold=0.5)
    assert out.columns == ["vec_id", "bench_id", "cosine"]
    assert out.count() == 0


def test_prepare_corpus_decontaminate_stage(spark):
    """The eval-leakage gate runs LAST: semantic-dedup survivors whose
    embedding is cosine-close to a bank vector drop; docs without
    embeddings pass unjudged; the bank without embeddings raises."""
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus

    texts = {
        1: "the data pipeline reads events and writes clean partitioned tables",
        4: "a completely different sentence about the spark engine and its very good optimizer",
        6: "yet another unrelated document mentioning streams joins and windows at scale",
        7: "one more distinct document on caches locks and schedulers in the engine",
    }
    rows = [Row(doc_id=i, text=t) for i, t in texts.items()]
    # 4 and 6 collapse in the semantic stage (6 lost to 4); the bank
    # then hits doc 4's direction, so 4 drops at decontamination.
    # doc 7 has NO embedding and must survive unjudged.
    emb = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=6, embedding=[0.0, 2.0, 0.0, 0.0]),
    ]
    bank = [Row(bench_id=900, embedding=[0.0, 1.0, 0.01, 0.0])]
    docs = spark.createDataFrame(rows)
    corpus, stats = prepare_corpus(
        docs,
        min_quality=0.0,
        jaccard_threshold=0.9,
        shingle_k=2,
        embeddings=spark.createDataFrame(emb),
        embed_threshold=0.95,
        n_embed_blocks=2,
        decontaminate_bank=spark.createDataFrame(bank),
        decontaminate_threshold=0.95,
    )
    s = {r["stage"]: r["rows"] for r in stats.collect()}
    assert s["semantic_deduped"] == 3
    assert s["decontaminated"] == 2  # doc 4 hit the bank
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 7]
    with pytest.raises(ValueError, match="decontaminate_bank requires"):
        prepare_corpus(
            docs, decontaminate_bank=spark.createDataFrame(bank)
        )


def test_semantic_dedup_incremental_union_equivalence(spark, tmp_path):
    """Under the append-stable id convention (new ids sort after stored)
    the incremental survivor set equals semantic_dedup over the union
    restricted to the batch; with update_index=True a second batch sees
    the first batch's survivors as canonical corpus."""
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    store_rows = [
        Row(vec_id=1, embedding=[1.0, 0.05, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.05, 1.0, 0.0, 0.0]),
    ]
    batch1 = [
        Row(vec_id=10, embedding=[1.0, 0.05, 0.0, 0.0]),  # dup of stored 1
        Row(vec_id=11, embedding=[0.9, 0.0, 0.9, 0.0]),   # novel, cell 0
        Row(vec_id=12, embedding=[0.9, 0.0, 0.9, 0.0]),   # dup of 11
    ]
    path = str(tmp_path / "ivf")
    SIM.save_ivf_index(spark.createDataFrame(store_rows), cents, path)
    surv, pairs = SIM.semantic_dedup_incremental(
        spark.createDataFrame(batch1), path, cents, threshold=0.95
    )
    got = sorted(r.vec_id for r in surv.collect())
    union = spark.createDataFrame(store_rows + batch1)
    want = sorted(
        r.vec_id
        for r in SIM.semantic_dedup(union, cents, 0.95).collect()
        if r.vec_id >= 10
    )
    assert got == want == [11]
    p = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert p == {(1, 10), (11, 12)}
    # batch 2: a dup of batch-1 survivor 11 must now lose to the STORE
    batch2 = [Row(vec_id=20, embedding=[0.9, 0.0, 0.9, 0.0])]
    surv2, pairs2 = SIM.semantic_dedup_incremental(
        spark.createDataFrame(batch2), path, cents, threshold=0.95
    )
    assert surv2.count() == 0
    assert {(r.id_a, r.id_b) for r in pairs2.collect()} == {(11, 20)}


def test_semantic_dedup_incremental_store_always_wins(spark, tmp_path):
    """A store match drops the new doc even when the new id is LOWER —
    the store is the canonical corpus (MinHash-store convention)."""
    cents = [(0, [1.0, 0.0, 0.0])]
    SIM.save_ivf_index(
        spark.createDataFrame([Row(vec_id=100, embedding=[1.0, 0.0, 0.0])]),
        cents,
        str(tmp_path / "ivf"),
    )
    surv, pairs = SIM.semantic_dedup_incremental(
        spark.createDataFrame([Row(vec_id=5, embedding=[1.0, 0.0, 0.0])]),
        str(tmp_path / "ivf"),
        cents,
        threshold=0.95,
        update_index=False,
    )
    assert surv.count() == 0
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(100, 5)}


def test_semantic_dedup_incremental_max_cell_guard(spark, tmp_path):
    """The viral-cell cap counts store + batch rows in the cell."""
    cents = [(0, [1.0, 0.0, 0.0])]
    store = [Row(vec_id=i, embedding=[1.0, i / 100.0, 0.0]) for i in range(8)]
    SIM.save_ivf_index(spark.createDataFrame(store), cents, str(tmp_path / "ivf"))
    batch = [
        Row(vec_id=100 + i, embedding=[1.0, 0.0, i / 100.0]) for i in range(8)
    ]
    with pytest.raises(Exception, match="max_cell"):
        SIM.semantic_dedup_incremental(
            spark.createDataFrame(batch),
            str(tmp_path / "ivf"),
            cents,
            threshold=0.999,
            max_cell=10,
            update_index=False,
        )[1].collect()


def test_ingest_batch_semantic_and_decontam_gates(spark, tmp_path):
    """Gated ingest: a paraphrase (no shingle overlap, same embedding
    direction) is rejected against the IVF index; an eval-bank hit
    never enters the corpus; and after the gates the corpus, the
    MinHash store, and the IVF index still describe the same set (the
    deferred store append)."""
    import os

    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivf")
    t0 = "the corpus starts with this perfectly ordinary seed document text"
    base = spark.createDataFrame([Row(doc_id=0, text=t0)])
    DD.save_minhash_store(base, store, "doc_id", "text", 32, 2, 8)
    base.write.parquet(corpus)
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    SIM.save_ivf_index(
        spark.createDataFrame([Row(vec_id=0, embedding=[0.9, 0.1])]), cents, ivf
    )

    batch = spark.createDataFrame(
        [
            # paraphrase of stored doc 0: zero shingle overlap, same
            # embedding direction -> only the semantic gate can drop it
            Row(doc_id=10, text="totally rewritten wording sharing not one bigram"),
            Row(doc_id=11, text="a genuinely novel document about engines and planning"),
            Row(doc_id=12, text="benchmark style sentence that leaked from the eval suite"),
        ]
    )
    emb = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[0.9, 0.1]),   # ≈ stored vec 0
            Row(vec_id=11, embedding=[0.1, 0.9]),   # novel
            Row(vec_id=12, embedding=[-0.5, 0.5]),  # ≈ eval bank
        ]
    )
    bank = spark.createDataFrame([Row(bench_id=7, embedding=[-0.5, 0.5])])
    rep = ingest_batch(
        batch, store, corpus, shingle_k=2,
        embeddings=emb, ivf_path=ivf, centroids=cents,
        semantic_threshold=0.99,
        decontaminate_bank=bank, decontaminate_threshold=0.99,
    )
    assert rep == {
        "batch": 3,
        "semantic_survivors": 2,   # 10 lost to stored vec 0
        "decontaminated": 1,       # 12 hit the bank
        "survivors": 1,
        "duplicates": 2,
    }
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [0, 11]
    # lockstep invariant: store shingles == corpus ids == index ids
    st_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(store, "shingles")).collect()
    )
    assert st_ids == [0, 11]
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(ivf).collect()
    ) == [0, 11]
    # a later plain batch dedups against the gated survivor via the store
    rep2 = ingest_batch(
        spark.createDataFrame(
            [Row(doc_id=20, text="a genuinely novel document about engines and planning")]
        ),
        store, corpus, shingle_k=2,
    )
    assert rep2 == {"batch": 1, "survivors": 0, "duplicates": 1}


def test_seeded_pq_books_and_perm_rotation(spark):
    """Seeded codebooks are normalized seed-vector slices; the stride
    permutation is a bijection whose matrix action equals the list
    re-index; encoding under the permutation rotation equals encoding
    the permuted vectors directly (the bit-exactness the SQL oracle
    twin relies on)."""
    import math

    dim, m = 16, 4
    perm = SIM.stride_perm(dim, m)
    assert sorted(perm) == list(range(dim))  # bijection
    R = SIM.perm_rotation(perm)
    seeds = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dim)])
        for i in range(6)
    ]
    books = SIM.pq_seed_codebooks(seeds, m=m)
    n0 = math.sqrt(sum(x * x for x in seeds[0][1]))
    assert books[0][0] == [x / n0 for x in seeds[0][1][: dim // m]]
    assert len(books) == m and len(books[0]) == 6
    # matrix action == reindex
    pbooks = SIM.pq_seed_codebooks(seeds, m=m, perm=perm)
    u = [x / n0 for x in seeds[0][1]]
    pu = [u[p] for p in perm]
    assert [pbooks[s][0] for s in range(m)] == [
        pu[s * (dim // m) : (s + 1) * (dim // m)] for s in range(m)
    ]
    # pq_encode under rotation == pq_encode of pre-permuted vectors
    rows = [
        Row(vec_id=i, embedding=[float(((i + 1) * (j + 2)) % 7 - 3) for j in range(dim)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.vec_id: list(r.codes)
        for r in SIM.pq_encode(df, pbooks, rotation=R).collect()
    }
    pre = spark.createDataFrame(
        [Row(vec_id=r.vec_id, embedding=[r.embedding[p] for p in perm]) for r in rows]
    )
    want = {r.vec_id: list(r.codes) for r in SIM.pq_encode(pre, pbooks).collect()}
    assert got == want


def _write_png(width, height, pixels, color_type, filters=None):
    """Minimal stdlib PNG writer for decoder tests. ``pixels`` is a
    row-major list of per-pixel channel tuples; ``filters`` picks the
    filter type per row (default all 0) and applies the matching
    RFC 2083 transform at encode time."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch

    def chunk(ctype, data):
        raw = ctype + data
        return struct.pack(">I", len(data)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    rows = []
    flat = [v for px in pixels for v in px]
    prev = bytes(stride)
    for y in range(height):
        line = bytes(flat[y * stride : (y + 1) * stride])
        f = (filters or [0] * height)[y]
        if f == 0:
            enc = line
        elif f == 1:  # Sub
            enc = bytes(
                (line[i] - (line[i - ch] if i >= ch else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:  # Up
            enc = bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:  # Average
            enc = bytes(
                (line[i] - (((line[i - ch] if i >= ch else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        elif f == 4:  # Paeth
            def paeth(a, b, c):
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

            enc = bytes(
                (
                    line[i]
                    - paeth(
                        line[i - ch] if i >= ch else 0,
                        prev[i],
                        prev[i - ch] if i >= ch else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        rows.append(bytes([f]) + enc)
        prev = line
    idat = zlib.compress(b"".join(rows))
    return (
        MM.PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def test_decode_png_stdlib_all_color_types_and_filters():
    # gray 2x2 with known mean
    g = _write_png(2, 2, [(0,), (255,), (100,), (155,)], 0)
    w, h, ch, means = MM.decode_png(g)
    assert (w, h, ch) == (2, 2, 1)
    assert means == [pytest.approx((0 + 255 + 100 + 155) / (4 * 255.0))]
    # RGB 2x1
    rgb = _write_png(2, 1, [(255, 0, 10), (0, 255, 30)], 2)
    w, h, ch, means = MM.decode_png(rgb)
    assert (w, h, ch) == (2, 1, 3)
    assert means == [
        pytest.approx(255 / 510),
        pytest.approx(255 / 510),
        pytest.approx(40 / 510),
    ]
    # RGBA round-trips too
    rgba = _write_png(1, 2, [(1, 2, 3, 4), (5, 6, 7, 8)], 6)
    assert MM.decode_png(rgba)[:3] == (1, 2, 4)
    # every filter type reconstructs the same image as filter-0
    import random

    rng = random.Random(31)
    px = [
        tuple(rng.randrange(256) for _ in range(3)) for _ in range(5 * 6)
    ]
    plain = MM.decode_png(_write_png(5, 6, px, 2))
    filtered = MM.decode_png(
        _write_png(5, 6, px, 2, filters=[0, 1, 2, 3, 4, 4])
    )
    assert plain == filtered
    # non-PNG content is rejected at the decoder
    with pytest.raises(ValueError):
        MM.decode_png(b"not a png at all----")


def test_extract_features_real_png_through_mapinpandas(spark):
    """The r8 ask: fake=False must actually decode in-container for one
    format. Generated PNGs flow through the Arrow-batched mapInPandas
    stage and come back with REAL width/height/channels/means."""
    import random

    rng = random.Random(7)
    rows = []
    want = {}
    for i in range(6):
        wd, ht = 3 + i, 2 + (i % 3)
        px = [
            tuple(rng.randrange(256) for _ in range(3)) for _ in range(wd * ht)
        ]
        blob = _write_png(wd, ht, px, 2)
        rows.append(Row(media_id=i, content=bytearray(blob)))
        want[i] = MM.png_features(blob)
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: [r[f"f{j}"] for j in range(MM.N_FAKE_FEATURES)]
        for r in MM.extract_features(df, fake=False).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i])
    # real dims, not hashes
    assert [got[0][0], got[0][1], got[0][2]] == [3.0, 2.0, 3.0]


def test_extract_features_real_mixed_formats_through_mapinpandas(spark):
    """One binary column carrying PNG and WAV payloads: the fake=False
    dispatch routes each by magic bytes and every row comes back with
    its own decoder's real features."""
    import random

    rng = random.Random(11)
    px = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(6)]
    blobs = {
        0: _write_png(3, 2, px, 2),
        1: _write_wav(8000, 1, [rng.randrange(-3000, 3000) for _ in range(50)]),
        2: _write_png(2, 1, [(7,), (9,)], 0),
        3: _write_wav(4000, 2, [rng.randrange(256) for _ in range(20)], sampwidth=1),
    }
    want = {
        i: (MM.png_features(b) if i % 2 == 0 else MM.wav_features(b))
        for i, b in blobs.items()
    }
    df = spark.createDataFrame(
        [Row(media_id=i, content=bytearray(b)) for i, b in blobs.items()],
        "media_id long, content binary",
    )
    got = {
        r.media_id: [r[f"f{j}"] for j in range(MM.N_FAKE_FEATURES)]
        for r in MM.extract_features(df, fake=False).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i])
    # dims/rate come from the right decoder, not a neighbour's
    assert got[0][:3] == [3.0, 2.0, 3.0]
    assert got[1][:3] == [8000.0, 50.0, 1.0]
    assert got[2][:3] == [2.0, 1.0, 1.0]
    assert got[3][:3] == [4000.0, 10.0, 2.0]


def test_extract_features_corrupt_payload_routes_to_pil_gate(spark):
    """A truncated PNG makes the strict stdlib decoder raise ValueError
    (a chunk cut short, or an IDAT stream zlib cannot finish) — the
    dispatch must route that to the PIL fallback (surfacing as the
    documented 'requires PIL' gate in a PIL-less environment), not
    abort the mapInPandas pass with a bare decode error."""
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    blob = _write_png(4, 3, [(i * 20, 255 - i, i) for i in range(12)], 2)
    idat = blob.index(b"IDAT")
    stream = zlib.compress(bytes(3 * (4 * 3 + 1)))
    corrupt = {
        0: blob[: idat + 10],  # IDAT chunk cut short
        1: blob[:20],  # IHDR cut short
        # whole chunks, but the IDAT zlib stream stops half way
        2: blob[:33] + chunk(b"IDAT", stream[: len(stream) // 2])
        + chunk(b"IEND", b""),
    }
    for b in corrupt.values():
        with pytest.raises(ValueError):
            MM.decode_png(b)
    for i, b in corrupt.items():
        df = spark.createDataFrame(
            [Row(media_id=i, content=bytearray(b))],
            "media_id long, content binary",
        )
        with pytest.raises(Exception, match="requires PIL"):
            MM.extract_features(df, fake=False).collect()


def test_dup_occ_skew_safe_null_ids_match_window_form(spark):
    """A NULL document id must not disable the keep-first cut: the
    skew-safe form's min(struct) equality is null-safe, matching the
    window form's nulls-first row_number exactly."""
    from pyspark.sql import Window

    rows = [
        # viral fingerprint 7 seen by a null-id doc (twice) and id=1
        (None, 0, 7),
        (None, 5, 7),
        (1, 2, 7),
        # unique fingerprint — never cut
        (2, 0, 9),
    ]
    occ = spark.createDataFrame(rows, "__id long, __pos long, __fp long")
    got = sorted(
        ((r["__id"], r["__pos"]) for r in DD._dup_occ_skew_safe(occ, 2, True).collect()),
        key=lambda t: (t[0] is not None, t[0], t[1]),
    )
    w_fp = Window.partitionBy("__fp").orderBy("__id", "__pos")
    want_df = (
        occ.select(
            "__id",
            "__pos",
            F.count(F.lit(1))
            .over(w_fp.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing))
            .alias("__n"),
            F.row_number().over(w_fp).alias("__rn"),
        )
        .filter((F.col("__n") >= 2) & (F.col("__rn") > 1))
    )
    want = sorted(
        ((r["__id"], r["__pos"]) for r in want_df.collect()),
        key=lambda t: (t[0] is not None, t[0], t[1]),
    )
    assert got == want
    # exactly one null-id occurrence survives as "first": the global
    # minimum (nulls-first), so (None, 5) and (1, 2) are cut
    assert got == [(None, 5), (1, 2)]


def _write_wav(sr, channels, samples, sampwidth=2):
    """Minimal stdlib WAV writer: ``samples`` is a flat interleaved list
    of ints (16-bit signed or 8-bit unsigned depending on sampwidth)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sr)
        if sampwidth == 2:
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        else:
            w.writeframes(bytes(samples))
    return buf.getvalue()


def test_decode_wav_stdlib_formats():
    import math

    # 16-bit mono: alternating full-scale square wave
    sq = [16384, -16384] * 50
    blob = _write_wav(8000, 1, sq)
    sr, n, ch, st = MM.decode_wav(blob)
    assert (sr, n, ch) == (8000, 100, 1)
    assert st["rms"] == pytest.approx(16384 / 32768.0)
    assert st["peak"] == pytest.approx(16384 / 32768.0)
    assert st["mean"] == pytest.approx(0.0)
    assert st["zcr"] == pytest.approx(1.0)  # crosses every sample
    # 16-bit stereo: zcr uses channel 0 only
    inter = []
    for i in range(40):
        inter += [1000, -1000]  # ch0 constant positive, ch1 negative
    sr, n, ch, st = MM.decode_wav(_write_wav(16000, 2, inter))
    assert (sr, n, ch) == (16000, 40, 2)
    assert st["zcr"] == 0.0 and st["mean"] == pytest.approx(0.0)
    # 8-bit unsigned: midpoint 128 is silence
    sr, n, ch, st = MM.decode_wav(_write_wav(4000, 1, [128] * 32, sampwidth=1))
    assert st["rms"] == 0.0 and st["peak"] == 0.0
    # sine RMS sanity at 16-bit
    amp = 20000
    sine = [round(amp * math.sin(2 * math.pi * 5 * t / 1000)) for t in range(1000)]
    _, _, _, st = MM.decode_wav(_write_wav(8000, 1, sine))
    assert st["rms"] == pytest.approx(amp / 32768.0 / math.sqrt(2), rel=0.01)
    # non-WAV content is rejected
    with pytest.raises(Exception):
        MM.decode_wav(b"definitely not RIFF data")


def test_extract_features_real_wav_through_mapinpandas(spark):
    """WAV blobs flow through the same fake=False mapInPandas stage as
    PNGs and come back with real sample-rate/frames/channel stats."""
    rows, want = [], {}
    for i in range(4):
        samples = [((j * (i + 3)) % 2001) - 1000 for j in range(200 * (i + 1))]
        blob = _write_wav(8000 + 1000 * i, 1, samples)
        rows.append(Row(media_id=i, content=bytearray(blob)))
        want[i] = MM.wav_features(blob)
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: [r[f"f{j}"] for j in range(MM.N_FAKE_FEATURES)]
        for r in MM.extract_features(df, fake=False).collect()
    }
    for i in want:
        assert got[i] == pytest.approx(want[i])
    assert got[2][0] == 10000.0 and got[2][1] == 600.0 and got[2][2] == 1.0


def test_url_dedup_collapses_variants_keeps_min_id(spark):
    rows = [
        (0, "https://www.Example.com/a/"),
        (1, "http://example.com/a"),            # scheme + slash variant of 0
        (2, "https://example.com/a?utm_source=x"),  # tracking variant of 0
        (3, "https://example.com/a?id=7"),      # REAL param: distinct page
        (4, "https://example.com/a?id=7#frag"), # fragment variant of 3
        (5, "https://other.com/a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r.canonical_url for r in DD.url_dedup(df, "url").collect()}
    assert out == {
        0: "example.com/a",
        3: "example.com/a?id=7",
        5: "other.com/a",
    }


def test_canonical_url_cross_engine_parity_random(spark, duck):
    """The canonicalizer's SQL twin must agree on adversarial URL
    shapes — multiple '?', '#' before '?', tracking params in every
    position, ports, empty params, uppercase everything — pinned over
    a seeded random corpus plus hand-picked edge cases."""
    import random

    rng = random.Random(17)
    schemes = ["https://", "http://", "HTTPS://", ""]
    hosts = ["www.Example.com", "example.com", "WWW.site.org:8080", "a.b.co"]
    paths = ["", "/", "/a", "/a/b/", "/a%20b", "/Very/Deep/Path/"]
    params = ["utm_source=x", "id=5", "ref=tw", "", "q=a+b", "gclid=1",
              "page=2", "ref_src=t", "reference=ok", "UTM_SOURCE=Y"]
    frags = ["", "#top", "#a?b=1", "##x"]
    urls = []
    for _ in range(200):
        u = rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
        nq = rng.randrange(4)
        if nq:
            u += "?" + "&".join(rng.choice(params) for _ in range(nq))
        if rng.random() < 0.3:
            u += "?" + rng.choice(params)  # second '?' — literal in query
        u += rng.choice(frags)
        if rng.random() < 0.2:
            u = "  " + u + " "
        urls.append(u)
    urls += [
        "https://example.com/a?x=1?y=2",
        "https://example.com/a?utm_source=1?ref=2",
        "example.com#only-frag",
        "https://example.com/?",
        "https://example.com/a?&&id=1&",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, u string")
    got = {
        r.i: r.c
        for r in df.select("i", TX.canonical_url_expr(F.col("u")).alias("c")).collect()
    }
    duck.execute("CREATE OR REPLACE TABLE __urls (i BIGINT, u VARCHAR)")
    duck.executemany("INSERT INTO __urls VALUES (?, ?)", list(enumerate(urls)))
    want = dict(
        duck.execute(
            f"SELECT i, {TX.canonical_url_sql('u')} FROM __urls"
        ).fetchall()
    )
    duck.execute("DROP TABLE __urls")
    bad = {i: (urls[i], got[i], want[i]) for i in got if got[i] != want[i]}
    assert not bad, bad


def test_html_extract_cross_engine_parity(spark, duck):
    """The HTML extraction's SQL twins must agree byte-for-byte on
    adversarial markup — nested tag-lookalikes inside scripts,
    double-escaped entities, multiple titles, unclosed tags, multi-line
    anchors, empty input — the Java∩RE2 dialect claim, pinned."""
    cases = [
        '<html><head><title> My&nbsp;&quot;Page&quot; &amp; Co </title>'
        '<style>p{x:1}</style></head><body><!-- note --><p>Hello   '
        "<b>world</b>&#39;s &lt;tag&gt;</p>"
        '<a href="u">x</a><A\nHREF="v">y</A><a>z</a>'
        '<script>var a="<p>";</script></body></html>',
        "no markup at all",
        "<p>unclosed <a href",
        "",
        "<title>t1</title><title>t2</title><script>s</script>"
        "leftover &amp;lt;",
        "<SCRIPT\ntype='t'>multi\nline</SCRIPT>tail",
        "a  \t b\n\nc",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, h string"
    )
    got = {
        r.i: (r.t, r.b, r.n)
        for r in df.select(
            "i",
            TX.html_title_expr(F.col("h")).alias("t"),
            TX.html_text_expr(F.col("h")).alias("b"),
            TX.html_link_count_expr(F.col("h")).alias("n"),
        ).collect()
    }
    duck.execute("CREATE OR REPLACE TABLE __html (i BIGINT, h VARCHAR)")
    duck.executemany("INSERT INTO __html VALUES (?, ?)", list(enumerate(cases)))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute(
            f"SELECT i, {TX.html_title_sql('h')}, {TX.html_text_sql('h')}, "
            f"{TX.html_link_count_sql('h')} FROM __html"
        ).fetchall()
    }
    duck.execute("DROP TABLE __html")
    assert got == want
    # spot-pin the semantics, not just parity
    assert got[0] == ('My "Page" & Co',
                      'My "Page" & Co Hello world \'s <tag> x y z', 3)
    assert got[1] == ("", "no markup at all", 0)
    assert got[4][1] == "t1 t2 leftover &lt;"  # double-escape decodes once


# the r14 single-pass strip (functions/text.py:_HTML_STRIP) replaced
# these four sequential passes; frozen here verbatim so the committed
# differential below can never drift with the production pattern
_HTML_BLOCKS_OLD_CHAIN = [
    r"(?s)<!--.*?-->",
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"<[^>]*>",
]


def _html_text_old_chain(c):
    for pat in _HTML_BLOCKS_OLD_CHAIN:
        c = F.regexp_replace(c, pat, " ")
    for ent, ch in TX._HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, TX._WS, " "))


def test_html_strip_single_pass_equals_old_chain(spark, duck, sf_dir):
    """Pin the r14 HTML-strip rewrite's old-vs-new equivalence as a
    committed differential (VERDICT r14 #2/#5): the co-edited Spark +
    DuckDB twins prove new≡new, so THIS test carries the new≡old claim
    — zero diffs between the four-pass chain and the one-pass
    alternation over (a) the declared query's actual payload (the
    synthetic template wrapped around every sf document text) and (b)
    adversarial markup. The one KNOWN divergence — a script block whose
    body opens an HTML comment that swallows the closer — is asserted
    explicitly, with both engines agreeing on the new semantics."""
    import __spark_entry__ as entry

    # (a) the declared corpus payload: old chain == single pass, row-exact
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", entry._html_synth_expr().alias("h")
    )
    diffs = docs.select(
        "doc_id",
        TX.html_text_expr(F.col("h")).alias("new"),
        _html_text_old_chain(F.col("h")).alias("old"),
    ).filter("new <> old OR (new IS NULL) <> (old IS NULL)")
    assert diffs.count() == 0
    # (b) adversarial but non-pathological markup: still identical
    cases = [
        '<html><!-- c --><style>p{}</style><script>var a="<p>";</script>'
        "<p>body &amp;lt; text</p></html>",
        "<script><!-- fully inside --></script>tail",
        "<!-- <script> -->orphan</script>",   # comment first, stray closer
        "<style>s1</style><style>s2</style>mid",
        "plain", "", "<p>unclosed <a href",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, h string")
    got = {
        r.i: (r.new, r.old)
        for r in df.select(
            "i",
            TX.html_text_expr(F.col("h")).alias("new"),
            _html_text_old_chain(F.col("h")).alias("old"),
        ).collect()
    }
    assert all(new == old for new, old in got.values()), got
    # (c) the documented pathological nesting: the forms DIVERGE here by
    # design (the comment opened inside the script swallows </script> in
    # the old chain), and the production semantics is the single-pass
    # one — identical across engines
    path = "<script>a <!-- b</script> c -->"
    r = df.sparkSession.createDataFrame([(path,)], "h string").select(
        TX.html_text_expr(F.col("h")).alias("new"),
        _html_text_old_chain(F.col("h")).alias("old"),
    ).first()
    assert r.new == "c -->" and r.old == "a"
    want = duck.execute(
        "SELECT " + TX.html_text_sql("'" + path.replace("'", "''") + "'")
    ).fetchone()[0]
    assert want == r.new


def test_ingest_batch_bootstraps_store_from_corpus(spark, tmp_path):
    """First loop iteration (or a lost store): the MinHash store is
    rebuilt from the existing corpus before the batch probes it, so a
    batch dup of a corpus doc is rejected without any manual
    save_minhash_store call."""
    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    t0 = "the corpus starts with this perfectly ordinary seed document text"
    spark.createDataFrame([Row(doc_id=0, text=t0)]).write.parquet(corpus)
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text=t0),  # dup of the corpus doc
            Row(doc_id=11, text="a genuinely novel batch document right here"),
        ]
    )
    rep = ingest_batch(batch, store, corpus, shingle_k=2)
    assert rep == {"batch": 2, "survivors": 1, "duplicates": 1}
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [0, 11]
    import os

    assert os.path.exists(os.path.join(store, "bands"))  # store now live


def test_ingest_batch_day0_bootstrap(spark, tmp_path):
    """Day-0: neither corpus nor store exists — within-batch dups close
    (the streaming sinks' convention), the corpus and store are created
    from the survivors, and the NEXT batch dedups against them."""
    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    store = str(tmp_path / "store")
    corpus = str(tmp_path / "corpus")
    t = "a first ever document with some unremarkable words in sequence"
    batch1 = spark.createDataFrame(
        [
            Row(doc_id=0, text=t),
            Row(doc_id=1, text=t + " extra"),  # within-batch near-dup
            Row(doc_id=2, text="something else entirely about other topics"),
        ]
    )
    rep1 = ingest_batch(batch1, store, corpus, shingle_k=2)
    assert rep1 == {"batch": 3, "survivors": 2, "duplicates": 1}
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [0, 2]
    # second batch: dup of a day-0 survivor is rejected via the store
    rep2 = ingest_batch(
        spark.createDataFrame([Row(doc_id=20, text=t)]), store, corpus,
        shingle_k=2,
    )
    assert rep2 == {"batch": 1, "survivors": 0, "duplicates": 1}


def test_ingest_batch_day0_bootstrap_all_stores(spark, tmp_path):
    """Day-0 with EVERY persisted artifact enabled and none existing:
    the substring cut, the MinHash check, and the semantic gate all
    close within-batch only, then corpus + substring store + MinHash
    store + IVF index are created from the final survivors — and a
    second batch dedups against all of them."""
    import os

    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    store = str(tmp_path / "store")
    sub = str(tmp_path / "sub")
    corpus = str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivf")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    run = "w1 w2 w3 w4 w5 w6"
    batch1 = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"lead {run} tail one"),
            Row(doc_id=1, text=f"other {run} ending two"),  # shares the run
            Row(doc_id=2, text="a wholly different document body here"),
        ]
    )
    emb1 = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[0.9, 0.1]),
            Row(vec_id=1, embedding=[0.1, 0.9]),
            Row(vec_id=2, embedding=[0.2, 0.8]),
        ]
    )
    rep1 = ingest_batch(
        batch1, store, corpus, shingle_k=2,
        embeddings=emb1, ivf_path=ivf, centroids=cents,
        semantic_threshold=0.999,
        substring_store_path=sub, substring_k=6,
    )
    assert rep1["batch"] == 3 and rep1["survivors"] >= 2
    for p in (os.path.join(store, "bands"), os.path.join(sub, "fps"), ivf):
        assert os.path.exists(p), p
    # the shared run was cut from doc 1 (kept in doc 0, its first holder)
    texts = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert run in texts[0] and run not in texts[1]
    # batch 2: exact dup of a day-0 survivor text -> rejected via stores
    rep2 = ingest_batch(
        spark.createDataFrame([Row(doc_id=20, text=texts[2])]),
        store, corpus, shingle_k=2,
        substring_store_path=sub, substring_k=6,
    )
    assert rep2["survivors"] == 0


def test_ingest_batch_refuses_missing_index_with_existing_corpus(spark, tmp_path):
    """The IVF index can't be rebuilt from corpus TEXT (the loop never
    sees corpus embeddings), so a missing index with an existing corpus
    must refuse loudly rather than silently probe a batch-seeded index
    that doesn't describe the corpus."""
    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [Row(doc_id=0, text="an existing corpus document with words")]
    ).write.parquet(corpus)
    batch = spark.createDataFrame([Row(doc_id=1, text="a new batch doc")])
    emb = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="does not describe the existing corpus"):
        ingest_batch(
            batch, str(tmp_path / "store"), corpus, shingle_k=2,
            embeddings=emb, ivf_path=str(tmp_path / "ivf"),
            centroids=[(0, [1.0, 0.0])], semantic_threshold=0.9,
        )


def test_ingest_batch_empty_corpus_dir_is_day0(spark, tmp_path):
    """A crashed earlier run can leave an EMPTY corpus directory; the
    bootstrap must treat it as day-0, not crash on schema inference."""
    import os

    from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)  # empty dir, no parquet
    rep = ingest_batch(
        spark.createDataFrame([Row(doc_id=0, text="first doc ever written")]),
        str(tmp_path / "store"), corpus, shingle_k=2,
    )
    assert rep == {"batch": 1, "survivors": 1, "duplicates": 0}
