"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k against one query
  vector: map-only scored scan → ``TakeOrderedAndProject`` (no global
  sort, no shuffle of vectors).
- :func:`knn_join` — exact k-NN for a small query set: broadcast the
  queries across the corpus scan, per-query top-k via window rank.
  Corpus never shuffles; cost is |corpus| × |queries| dot products,
  embarrassingly parallel.
- :func:`srp_lsh_topk` — the scale path: Signed-Random-Projection LSH.
  Deterministic hyperplanes (LCG, literal-embeddable) map each vector
  to a bucket id; only the query's bucket (plus optional neighbor
  probes) is reranked exactly. At 100 TB the bucket id becomes a
  partition/cluster key so a probe touches a handful of files.
- :func:`embedding_neardup_pairs_blocked` — exact all-pairs at scale:
  block-grid self-join + one numpy matmul per block pair inside
  ``mapInPandas`` (~120× the interpreted expression form per core).

Dot products are sequential left-folds over DOUBLE (``zip_with`` +
``aggregate``) — bit-identical to the DuckDB oracle's ``list_reduce``
over the same values, so scores hash-match at 6 decimals.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .aggregate import limb_sum
from pyspark.sql.types import IntegerType, StructField, StructType


def _lcg_floats(n: int, seed: int) -> list[float]:
    """Deterministic pseudo-random floats in [-1, 1) — reproducible in
    any process and embeddable as literals in oracle SQL."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        # 21 high bits → exact double, range [-1, 1)
        out.append((x >> 43) / float(1 << 20) - 1.0)
    return out


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    vals = _lcg_floats(dim * n_planes, seed)
    return [vals[j * dim : (j + 1) * dim] for j in range(n_planes)]


def _dvec(c: Column) -> Column:
    """float[] → double[] so both engines accumulate identically."""
    return F.transform(c, lambda x: x.cast("double"))


def lit_vec(vals) -> Column:
    """Literal double[] built as ONE parsed expression instead of
    len(vals) py4j `lit` calls — for 128-dim vectors the py4j round
    trips dominate driver-side plan construction (~0.1 s per vector);
    string-cast round-trips repr() exactly, so values are bit-identical
    to F.lit(float(v))."""
    body = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return F.expr(f"array({body})")


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (order-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lit_vec_sql(vals) -> str:
    """Spark-SQL text of :func:`lit_vec` for string-built expressions."""
    body = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return f"array({body})"


def spark_dot_sql(a: str, b: str) -> str:
    """Spark-SQL text of :func:`dot_expr` — identical fold order, for
    expressions assembled as strings (one parse instead of dozens of
    py4j round trips per vector)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column, nd: int = 6) -> Column:
    da, db = _dvec(a), _dvec(b)
    return F.round(dot_expr(da, db) / (norm_expr(da) * norm_expr(db)), nd)


def dot_sql(a: str, b: str) -> str:
    """DuckDB left-fold matching :func:`dot_expr` exactly (same
    accumulation order; seed element avoids the empty-list error)."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"[({a})[i]::DOUBLE * ({b})[i]::DOUBLE FOR i IN range(1, len({a}) + 1)]), "
        f"(acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str, nd: int = 6) -> str:
    return (
        f"ROUND({dot_sql(a, b)} / "
        f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})), {nd})"
    )


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query is a codegen constant — scoring is a map-only pass and
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject (per-
    partition heaps + driver merge of k rows, not a sort).
    """
    q = lit_vec(query_vec)
    scored = corpus.select(
        F.col(id_col),
        cosine_expr(F.col(vec_col), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: every query row → its k nearest corpus rows.

    Queries broadcast (small side); the corpus scan stays partition-
    local. The per-query top-k window shuffles only (q_id, vec_id,
    score) triples — never embeddings.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def knn_join_sql(
    queries_sql: str,
    corpus_table: str,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql(f"c.{vec_col}", f"q.__qvec")
    return f"""
    WITH q AS ({queries_sql}),
    scored AS (
        SELECT q.{query_id}, c.{corpus_id}, {cos} AS cosine
        FROM {corpus_table} c CROSS JOIN q
    )
    SELECT {query_id}, {corpus_id}, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY {query_id} ORDER BY cosine DESC, {corpus_id}) AS rn
        FROM scored
    ) WHERE rn <= {k}
    """


def srp_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """SRP-LSH bucket id: bit j = sign(dot(vec, plane_j)) ≥ 0.

    Plane coordinates are literals, so the whole bucket id is one
    codegen expression — usable as a partition / clustering key.
    """
    dv = _dvec(vec)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        p = lit_vec(plane)
        bit = F.when(dot_expr(dv, p) >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def srp_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    parts = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        parts.append(
            f"(CASE WHEN {dot_sql(vec, lit)} >= 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(parts) + ")"


def srp_lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact rerank restricted to the query's SRP bucket.

    Recall is probabilistic (standard SRP trade-off); at scale the
    bucket id is precomputed once per corpus vector and used as the
    storage partition key, so a query reads 1/2^n_planes of the data.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbits = 0
    for j, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) >= 0:
            qbits += 1 << j
    bucketed = corpus.withColumn("bucket", srp_bucket_expr(F.col(vec_col), planes))
    return cosine_topk(
        bucketed.filter(F.col("bucket") == qbits), query_vec, k, id_col, vec_col
    ).withColumn("bucket", F.lit(qbits).cast("long"))


def srp_lsh_topk_sql(
    corpus_table: str,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbits = 0
    for j, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) >= 0:
            qbits += 1 << j
    qlit = "[" + ", ".join(repr(float(v)) for v in query_vec) + "]"
    return f"""
    SELECT {id_col}, {cosine_sql(vec_col, qlit)} AS cosine, {qbits}::BIGINT AS bucket
    FROM {corpus_table}
    WHERE {srp_bucket_sql(vec_col, planes)} = {qbits}
    ORDER BY cosine DESC, {id_col} LIMIT {k}
    """


def ivf_assignments(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: each vector → its nearest centroid by cosine
    (ties → smallest centroid id). Centroid coordinates are plan
    literals, so assignment is a map-only pass; at scale the cell id
    becomes the storage partition key (the inverted file).

    Centroid *training* is pluggable — any k-means produces the list;
    here callers typically seed with deterministic corpus vectors so the
    differential oracle can rebuild the same cells in SQL.
    """
    # the whole candidate bank is ONE parsed SQL expression: built with
    # Column operators the ~20 py4j round trips per centroid dominate
    # plan construction (~1 s for 8 centroids, 3× the execution time)
    dv = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    cands = []
    for cid, cvec in centroids:
        p = lit_vec_sql(cvec)
        cands.append(
            f"struct(-({spark_dot_sql(dv, p)}) / sqrt({spark_dot_sql(p, p)})"
            f" AS neg_score, {cid} AS cid)"
        )
    return corpus.withColumn(
        "cell", F.expr(f"sort_array(array({', '.join(cands)}))[0].cid")
    )


def ivf_assignments_blocked(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized IVF cell assignment — the index-BUILD engine.

    Same argmax semantics as :func:`ivf_assignments` (score =
    dot(v, c)/norm(c); tie → smallest centroid id, guaranteed by sorting
    the centroid bank by id so numpy's first-max rule matches the
    interpreted form's ``sort_array`` tiebreak), but scored as ONE numpy
    matmul per Arrow batch instead of per-centroid interpreted array
    lambdas. At 20k×64×8 the interpreted pass costs seconds; at a
    100 TB corpus the index build is the expensive op, and this form
    makes it BLAS-bound (measured in tests; assignment parity with the
    interpreted form is pinned on the test data). Scores can differ
    from the sequential fold in the last ulps, so a vector exactly
    equidistant between two centroids could in principle assign
    differently — same caveat class as the other blocked engines.
    """
    order = sorted(range(len(centroids)), key=lambda i: centroids[i][0])
    cids = [int(centroids[i][0]) for i in order]
    bank = [[float(x) for x in centroids[i][1]] for i in order]
    out_schema = StructType(
        corpus.schema.fields + [StructField("cell", IntegerType())]
    )

    def assign(batches):
        import numpy as np

        cm = np.array(bank, dtype=np.float64)
        cn = np.linalg.norm(cm, axis=1)
        cn[cn == 0] = 1.0
        cmn = (cm / cn[:, None]).T  # d × k, norm-scaled
        ids = np.asarray(cids)
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(list(pdf[vec_col]), dtype=np.float64)
            sel = np.argmax(vm @ cmn, axis=1)  # first max ⇒ smallest cid
            out = pdf.copy()
            out["cell"] = ids[sel].astype("int32")
            yield out

    return corpus.mapInPandas(assign, schema=out_schema)


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means centroids for the IVF family — the trainer
    that makes :func:`ivf_topk` / :func:`save_ivf_index` usable
    end-to-end without hand-built cells.

    MLlib ``KMeans`` (k-means|| init) with a fixed ``seed``: repeated
    runs over the same data and partitioning rebuild the same centroid
    list, preserving the deterministic-rebuild contract of the persisted
    index. Vectors are L2-normalized before training so Euclidean
    k-means clusters by direction (spherical k-means), matching the
    cosine geometry :func:`ivf_assignments` partitions by; centroid
    norms are irrelevant to the cosine cell argmax.

    Scale: training is Spark-distributed (MLlib aggregates per
    partition); at 100 TB pass ``sample_fraction`` to fit on a uniform
    sample — centroid quality needs ~1k× n_centroids vectors, not the
    full corpus. Returns ``[(cell_id, centroid)]`` with cell ids densely
    numbered 0..k-1 in MLlib's cluster order.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dv = _dvec(F.col(vec_col))
    feats = (
        corpus.select(dv.alias("__v"), norm_expr(F.col(vec_col)).alias("__n"))
        .filter(F.col("__n") > 0)  # zero vectors have no direction
        .select(
            array_to_vector(
                F.transform("__v", lambda x: x / F.col("__n"))
            ).alias("features")
        )
    )
    if sample_fraction is not None:
        feats = feats.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=int(n_centroids), seed=int(seed), maxIter=int(max_iter)).fit(feats)
    return [
        (cid, [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe the ``n_probe`` cells nearest the query,
    rerank exactly inside them. With cells as partition keys, a probe
    reads ~n_probe/n_centroids of the corpus."""

    def cos(q, c):
        d = sum(x * y for x, y in zip(q, c))
        nq = sum(x * x for x in q) ** 0.5
        nc = sum(x * x for x in c) ** 0.5
        return d / (nq * nc) if nq and nc else 0.0

    ranked = sorted(centroids, key=lambda t: (-cos(query_vec, t[1]), t[0]))
    probe_cells = [cid for cid, _ in ranked[:n_probe]]
    assigned = ivf_assignments(corpus, centroids, id_col, vec_col)
    probed = assigned.filter(F.col("cell").isin(probe_cells))
    return (
        cosine_topk(probed, query_vec, k, id_col, vec_col)
        .withColumn("probed_cells", F.lit(",".join(map(str, sorted(probe_cells)))))
    )


def ivf_topk_sql(
    corpus_table: str,
    query_vec: list[float],
    k: int,
    n_centroids: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle for :func:`ivf_topk` seeded with the first ``n_centroids``
    corpus vectors (by id) as centroids — fully derivable in SQL."""
    qlit = "[" + ", ".join(repr(float(v)) for v in query_vec) + "]"
    # centroid score uses dot(v,c)/norm(c) (norm(v) constant per row's
    # argmax) — must match ivf_assignments' neg_score exactly
    return f"""
    WITH cent AS (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {corpus_table}
        WHERE {id_col} < {n_centroids}
    ),
    probe AS (
        SELECT cid FROM cent
        ORDER BY {cosine_sql('cvec', qlit, 12)} DESC, cid LIMIT {n_probe}
    ),
    assigned AS (
        SELECT e.{id_col}, e.{vec_col},
               (SELECT c.cid FROM cent c
                ORDER BY -({dot_sql(f'e.{vec_col}', 'c.cvec')} / sqrt({dot_sql('c.cvec', 'c.cvec')})) ASC, c.cid ASC
                LIMIT 1) AS cell
        FROM {corpus_table} e
    )
    SELECT a.{id_col}, {cosine_sql(f'a.{vec_col}', qlit)} AS cosine,
           (SELECT string_agg(cid::VARCHAR, ',' ORDER BY cid) FROM probe) AS probed_cells
    FROM assigned a
    WHERE a.cell IN (SELECT cid FROM probe)
    ORDER BY cosine DESC, a.{id_col} LIMIT {k}
    """


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Default (scale) path: SRP-bucketed self-join — near-identical
    vectors land in the same bucket with high probability, and the
    quadratic verification runs per bucket, not globally. ``exact=True``
    switches to the all-pairs join (oracle/baseline path).

    Pass ``dim`` (vector dimensionality) so plan construction stays
    job-free; when omitted, a one-row probe infers it (a synchronous
    Spark job at build time — fallback only).
    """
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        # The all-pairs theta-join compiles to a BroadcastNestedLoopJoin
        # streaming the left side; a small corpus often arrives as 1-2
        # file partitions, which would serialize the O(n²) cosine work
        # onto one core (observed: 20k vectors = 200M cosines on a
        # single task at sf1). Spread the streamed side explicitly —
        # an explicit repartition(N) is honored (AQE only coalesces
        # non-user-specified shuffles), so the quadratic stage scales
        # with the session's parallelism.
        n_parts = int(
            corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        joined = a.repartition(n_parts).join(b, F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = first["d"]
        planes = hyperplanes(dim, n_planes, seed)
        ab = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            srp_bucket_expr(F.col(vec_col), planes).alias("bucket"),
        )
        a = ab.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
        )
        b = ab.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
        )
        joined = a.join(b, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.select(
            "id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_sql(
    corpus_table: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {cos} AS cosine
    FROM {corpus_table} a JOIN {corpus_table} b ON a.{id_col} < b.{id_col}
    WHERE {cos} >= {threshold}
    """


def embedding_neardup_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 32,
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates, Arrow-vectorized.

    The expression form (:func:`embedding_neardup_pairs` with
    ``exact=True``) evaluates the O(n²) cosines through interpreted
    higher-order array lambdas — ~1M flops/core-sec, fine as the
    DuckDB-matchable oracle, hopeless as an engine (200M cosines at
    20k vectors measured 383 s on 32 cores). This is the scale form of
    the same exact semantics: hash each vector into one of ``n_blocks``
    blocks, pack every block into a single row via ``collect_list``,
    join the upper-triangle block grid (``blk_a <= blk_b``), and score
    each block pair with ONE numpy matmul inside ``mapInPandas``
    (~1G flops/core-sec, BLAS-threaded).

    Scale shape: shuffle volume is ``n_blocks × corpus`` (each block
    meets every other block once) — the inherent replication cost of
    exact all-pairs, controlled by one knob. n_blocks trades task
    granularity against amplification; ~sqrt(cores×4) is a good
    default at cluster scale. The approximate pipelines (SRP, IVF,
    banding) remain the right answer when recall<1 is acceptable —
    this operator is for when "exact" is part of the contract (e.g.
    dedup audits, eval-set leakage scans).

    Scores are float64 matmul sums; they can differ from the
    sequential-fold oracle in the last ulps (pairwise vs sequential
    summation), so pair membership at the threshold is compared with a
    small epsilon in tests, not hashed.
    """
    id_type = corpus.schema[id_col].dataType.simpleString()
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    packed = (
        corpus.select(
            F.col(id_col).alias("pid"), _dvec(F.col(vec_col)).alias("pvec"), blk.alias("blk")
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("pid", "pvec")).alias("rows"))
    )
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    grid = (
        a.join(b, F.col("blk_a") <= F.col("blk_b"))
        # one block-pair per task: the matmul IS the unit of work
        .repartition(n_blocks * (n_blocks + 1) // 2, "blk_a", "blk_b")
    )
    thr = float(threshold)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.array([r["pid"] for r in row["rows_a"]])
                mat_a = np.array([r["pvec"] for r in row["rows_a"]], dtype=np.float64)
                ids_b = np.array([r["pid"] for r in row["rows_b"]])
                mat_b = np.array([r["pvec"] for r in row["rows_b"]], dtype=np.float64)
                na = np.linalg.norm(mat_a, axis=1)
                nb_ = np.linalg.norm(mat_b, axis=1)
                cos = (mat_a @ mat_b.T) / np.outer(na, nb_)
                hits = cos >= thr
                if row["blk_a"] == row["blk_b"]:
                    # diagonal block: each unordered pair appears twice
                    # (and i==j on the diagonal) — keep the id_a < id_b half
                    hits &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(hits)
                pa, pb = ids_a[ii], ids_b[jj]
                # np.where instead of minimum/maximum: the comparison
                # ufunc also covers string ids, which minimum does not
                swap = pa > pb
                lo = np.where(swap, pb, pa)
                hi = np.where(swap, pa, pb)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return grid.mapInPandas(
        score, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def knn_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized exact k-NN join — the scale engine for
    :func:`knn_join`'s contract.

    The expression form scores |queries| × |corpus| dot products through
    interpreted array lambdas; this form collects the bounded query side
    once (same boundedness contract as its ``F.broadcast(q)``), ships it
    as a Spark broadcast, and scores each corpus Arrow batch with ONE
    numpy matmul, keeping only the batch-local top-k per query under the
    same deterministic total order the final rank uses (cosine desc,
    corpus id asc — batch rows are pre-sorted by id so a stable argsort
    breaks exact ties toward the lower id, never dropping the member the
    global rank would keep). The shuffle then carries ≤ batches × |Q| × k
    scored triples — never embeddings — and a final per-query window
    rank reduces to the global top-k.

    Scale shape: corpus never shuffles; per-core throughput is BLAS
    matmul (~1G flops/core-sec vs ~1M interpreted); the query matrix
    rides the broadcast plane like any ML model. Scores are float64
    matmul sums, which can differ from the sequential-fold oracle in
    the last ulps — rank flips are possible only between neighbors
    whose cosines tie within ~1e-12, so tests compare neighbor sets,
    not hashes.
    """
    q_type = queries.schema[query_id].dataType.simpleString()
    c_type = corpus.schema[corpus_id].dataType.simpleString()
    q_rows = queries.select(F.col(query_id), F.col(vec_col)).collect()
    spark = corpus.sparkSession
    if not q_rows:
        return local_frame(
            spark, [], f"`{query_id}` {q_type}, `{corpus_id}` {c_type}, `cosine` double"
        )
    q_ids = [r[0] for r in q_rows]
    bc = spark.sparkContext.broadcast(
        (q_ids, [[float(x) for x in r[1]] for r in q_rows])
    )
    kk = int(k)

    def score(batches):
        import numpy as np
        import pandas as pd

        ids_q, vec_q = bc.value
        qm = np.array(vec_q, dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        ids_q = np.asarray(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[corpus_id].to_numpy()
            # pre-sort the batch by corpus id so the stable argsort below
            # breaks exact-cosine ties toward the lower id — the same
            # (cosine desc, id asc) total order as the global window rank
            order0 = np.argsort(cids, kind="stable")
            cids = cids[order0]
            cm = np.array(list(pdf[vec_col].iloc[order0]), dtype=np.float64)
            cn = np.linalg.norm(cm, axis=1)
            cos = (cm @ qm.T) / np.outer(cn, qn)  # |batch| × |Q|
            top = min(kk, cos.shape[0])
            # batch-local top-k per query column under the total order
            sel = np.argsort(-cos, axis=0, kind="stable")[:top]  # top × |Q|
            qcol = np.broadcast_to(np.arange(cos.shape[1]), sel.shape)
            yield pd.DataFrame(
                {
                    "q_id": ids_q[qcol.ravel()],
                    corpus_id: cids[sel.ravel()],
                    "cosine": cos[sel.ravel(), qcol.ravel()],
                }
            )

    part = corpus.select(corpus_id, vec_col).mapInPandas(
        score, schema=f"q_id {q_type}, {corpus_id} {c_type}, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(corpus_id))
    out = (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .drop("rank")
    )
    return out.withColumnRenamed("q_id", query_id) if query_id != "q_id" else out


def knn_join_grid(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_query_blocks: int = 8,
    n_corpus_blocks: int = 8,
) -> DataFrame:
    """Exact k-NN join for a query side too large to broadcast — the
    big-to-big completion of :func:`knn_join_blocked`.

    Both sides are hashed into blocks and packed one-block-per-row
    (``collect_list``), the ``n_query_blocks × n_corpus_blocks`` grid is
    joined, and each grid cell is scored with ONE numpy matmul. Within a
    cell the per-query top-k is taken under the global (cosine desc,
    corpus id asc) total order — corpus rows are pre-sorted by id so the
    stable argsort never drops a tied member the final window rank would
    keep — and the shuffle carries ≤ |Q| × n_corpus_blocks × k scored
    triples plus the packed blocks. Semantics are identical to
    :func:`knn_join`; the replication cost (each corpus block meets
    every query block once) is the inherent exact-knn cost, exposed as
    the two block knobs. At cluster scale size blocks so one cell's
    matmul (~|Q|/nq × |C|/nc) fits executor memory; IVF/SRP remain the
    sublinear paths when recall < 1 is acceptable.
    """
    q_type = queries.schema[query_id].dataType.simpleString()
    c_type = corpus.schema[corpus_id].dataType.simpleString()
    qp = (
        queries.select(
            F.col(query_id).alias("qid"),
            _dvec(F.col(vec_col)).alias("qvec"),
            F.pmod(F.xxhash64(F.col(query_id)), F.lit(n_query_blocks))
            .cast("int")
            .alias("blk_q"),
        )
        .groupBy("blk_q")
        .agg(F.collect_list(F.struct("qid", "qvec")).alias("rows_q"))
    )
    cp = (
        corpus.select(
            F.col(corpus_id).alias("cid"),
            _dvec(F.col(vec_col)).alias("cvec"),
            F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(n_corpus_blocks))
            .cast("int")
            .alias("blk_c"),
        )
        .groupBy("blk_c")
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("rows_c"))
    )
    grid = qp.crossJoin(cp).repartition(
        n_query_blocks * n_corpus_blocks, "blk_q", "blk_c"
    )
    kk = int(k)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                qids = np.array([r["qid"] for r in row["rows_q"]])
                qm = np.array([r["qvec"] for r in row["rows_q"]], dtype=np.float64)
                cids = np.array([r["cid"] for r in row["rows_c"]])
                cm = np.array([r["cvec"] for r in row["rows_c"]], dtype=np.float64)
                order0 = np.argsort(cids, kind="stable")  # id asc for tiebreak
                cids, cm = cids[order0], cm[order0]
                qn = np.linalg.norm(qm, axis=1)
                cn = np.linalg.norm(cm, axis=1)
                cos = (cm @ qm.T) / np.outer(cn, qn)  # |C_blk| × |Q_blk|
                top = min(kk, cos.shape[0])
                sel = np.argsort(-cos, axis=0, kind="stable")[:top]
                qcol = np.broadcast_to(np.arange(cos.shape[1]), sel.shape)
                outs.append(
                    pd.DataFrame(
                        {
                            "q_id": qids[qcol.ravel()],
                            corpus_id: cids[sel.ravel()],
                            "cosine": cos[sel.ravel(), qcol.ravel()],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    part = grid.mapInPandas(
        score, schema=f"q_id {q_type}, {corpus_id} {c_type}, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(corpus_id))
    out = (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .drop("rank")
    )
    return out.withColumnRenamed("q_id", query_id) if query_id != "q_id" else out


def save_ivf_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocked: bool = False,
    mode: str = "overwrite",
) -> str:
    """Materialize the inverted file: cell assignments written as a
    parquet table **partitioned by cell** — the storage layout the IVF
    story promises (SCALE.md). One directory per cell; a probe read
    lists only the probed directories.

    ``blocked=True`` assigns cells with the BLAS matmul engine
    (:func:`ivf_assignments_blocked`) — the build path for large
    corpora; the default interpreted form is bit-matched to the SQL
    oracle's fold arithmetic. ``mode="append"`` adds a new batch to an
    existing index under the SAME centroid list (cell files accumulate
    inside the unchanged directory layout, so probes see old + new
    without a rebuild) — the growing-corpus loop that pairs with the
    incremental dedup store; re-training centroids requires a full
    rebuild by construction."""
    assign = ivf_assignments_blocked if blocked else ivf_assignments
    (
        assign(corpus, centroids, id_col, vec_col)
        .repartition("cell")  # one task per cell → few large files
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )
    return path


def ivf_topk_from_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k against a :func:`save_ivf_index` store.

    Probe cells are chosen driver-side from the literal centroid list
    (no Spark job), and the ``cell IN (...)`` predicate lands in
    ``PartitionFilters`` — directory pruning, so the scan reads
    ~n_probe/n_centroids of the corpus (plan-asserted in
    tests/test_plans.py)."""

    def cos(q, c):
        d = sum(x * y for x, y in zip(q, c))
        nq = sum(x * x for x in q) ** 0.5
        nc = sum(x * x for x in c) ** 0.5
        return d / (nq * nc) if nq and nc else 0.0

    ranked = sorted(centroids, key=lambda t: (-cos(query_vec, t[1]), t[0]))
    probe_cells = [cid for cid, _ in ranked[:n_probe]]
    probed = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    return cosine_topk(probed, query_vec, k, id_col, vec_col).withColumn(
        "probed_cells", F.lit(",".join(map(str, sorted(probe_cells))))
    )


# below this input size, spreading an under-parallel scan before the
# ×dim explode costs more in shuffle + 32-task scheduling than one core
# spends on the whole arithmetic-light explode+agg (measured: 0.79 s
# spread vs 0.20 s serial on a 0.8 MB corpus; 8.1 s serial vs sub-second
# spread on a 5.9 MB one — the gate sits between). Embedding profilers
# only: text explodes do far more per-byte work and keep their
# unconditional guard.
_SPREAD_MIN_BYTES = 2 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the frame's source files (driver-only
    metadata; Hadoop-FS-aware for remote paths). Unlike the
    optimizer's ``sizeInBytes`` — which degenerates to a L×R product
    on un-analyzed joins (measured 113 GB for a 1.4 MB two-table
    join) — input files are ground truth for "how much data feeds
    this plan". None when the source set is unknown (no files, e.g.
    a local relation) or too numerous to stat cheaply (many files ⇒
    big anyway, and a multi-file scan is already parallel)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 64:
        return None
    from ..sources.fs import _hadoop_fs, _looks_remote

    total = 0
    for f in files:
        try:
            if _looks_remote(f):
                fs, jpath = _hadoop_fs(df.sparkSession, f)
                total += int(fs.getFileStatus(jpath).getLen())
            else:
                local = f[5:] if f.startswith("file:") else f
                total += os.path.getsize(local)
        except Exception:
            # a file vanished (compaction) or the stat failed (remote
            # perms/connectivity, raised as a Py4J Java error, not
            # OSError) — unknown size, fall back to the partition check
            return None
    return total


def _spread_for_explode(df: DataFrame) -> DataFrame:
    """Repartition an under-parallel scan before a row-multiplying
    explode — unless the source data is so small (total input-file
    bytes, a driver-only stat) that shuffle + 32-task scheduling
    would dominate the single-core work it saves. The size gate runs
    FIRST: it is ~ms while ``df.rdd`` forces a plan→RDD conversion
    (measured ~1.2 s on a union-of-filters plan). At production scan
    sizes the partition count satisfies the parallelism check and
    nothing fires."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    size = _input_bytes(df)
    if size is not None and size < _SPREAD_MIN_BYTES:
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    micro: int = 6,
) -> DataFrame:
    """Per-dimension summary statistics (n, mean, std, min, max) over an
    embedding column — the profiling pass a training pipeline runs before
    normalizing or whitening a 100 TB vector corpus.

    Scale shape: ``posexplode`` multiplies rows by dim, but the partial
    hash aggregate sits in the SAME stage as the explode (keyed on the
    dim ordinal, cardinality = vector width), so the shuffle carries only
    ``dim × n_partitions`` partial rows — the vectors themselves never
    shuffle. All arithmetic is codegen; no Python. One guard for the
    single-file small-corpus case: when the scan yields fewer
    partitions than the cluster's parallelism the input is repartitioned
    BEFORE the explode (1/dim of the exploded volume), otherwise a
    one-file table serializes the whole ×dim explode+agg on one core
    (measured 8.1 s → sub-second at sf1); at production scan sizes the
    branch never fires.

    Engine-proof numerics (the repo's cross-engine convention, SCALE.md):
    values are quantized to ``10^micro`` integer units, summed exactly in
    DECIMAL(38,0), and the mean is one half-up integer division (ties
    toward +∞, the ``floor((2s+n)/2n)`` convention shared with
    ``_dec_avg``) — no double accumulation, so results are independent
    of both summation order and engine rounding. The std derives from the same exact
    integer moments with a single double sqrt at the end (identical
    operation sequence in the SQL twin, so bit-equal).
    """
    s = 10**micro
    df = _spread_for_explode(df)
    q = F.round(F.col("v") * s, 0).cast("long")
    exploded = df.select(F.posexplode(vec_col).alias("pos", "__v")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("__v").cast("double").alias("v"),
    )
    g = exploded.select("dim", "v", q.alias("q"), (q * q).alias("qq")).groupBy(
        "dim"
    ).agg(
        F.count("v").alias("n"),
        # limb-split exact sums (aggregate.limb_sum): primitive-long
        # partials instead of per-row decimal casts, same exact totals
        limb_sum(F.col("q")).alias("__s"),
        limb_sum(F.col("qq")).alias("__ss"),
        F.min("v").alias("dim_min"),
        F.max("v").alias("dim_max"),
    )
    mean, std = _exact_mean_std(
        F.col("n"), F.col("__s"), F.col("__ss"), s
    )
    return g.select(
        "dim",
        "n",
        mean.alias("dim_mean"),
        std.alias("dim_std"),
        "dim_min",
        "dim_max",
    ).orderBy("dim")


def _exact_mean_std(n: Column, s_: Column, ss: Column, s: int):
    """The ONE canonical exact-integer-moment → (mean, std) column
    pair, shared by :func:`dim_stats` and :func:`dim_drift` — the
    half-up mean (``floor((2s+n)/2n)``, ties toward +∞) and the
    single-sqrt sample std must stay bit-identical to
    :func:`dim_stats_sql`'s operation sequence in every operator that
    claims a hash-exact twin; keep ONLY this copy."""
    nn = n.cast("decimal(38,0)")
    x = s_ * 2 + nn  # half-up division: floor((2s + n) / 2n)
    y = nn * 2
    mean_micro = (x - F.pmod(x, y)) / y
    mean = mean_micro.cast("decimal(38,0)").cast("double") / F.lit(float(s))
    var_num = nn * ss - s_ * s_
    std = F.when(
        n > 1,
        F.sqrt(var_num.cast("double") / (n * (n - 1)).cast("double"))
        / F.lit(float(s)),
    )
    return mean, std


def dim_stats_sql(table: str, vec_col: str = "embedding", micro: int = 6) -> str:
    """DuckDB twin of :func:`dim_stats` — identical integer moments and
    the same single-sqrt std derivation (``generate_subscripts`` is
    1-based, matching the Spark side's ``pos + 1``)."""
    s = 10**micro
    fdiv = (
        "((x - (((x) % (y) + (y)) % (y))) // (y))"
        .replace("x", "(2 * __s + n)")
        .replace("y", "(2 * n)")
    )
    return f"""
    WITH e AS (
      SELECT generate_subscripts({vec_col}, 1)::BIGINT AS dim,
             unnest({vec_col})::DOUBLE AS v
      FROM {table}
    ), g AS (
      SELECT dim,
             COUNT(v) AS n,
             SUM(ROUND(v * {s})::BIGINT)::DECIMAL(38,0) AS __s,
             SUM(ROUND(v * {s})::BIGINT * ROUND(v * {s})::BIGINT)::DECIMAL(38,0) AS __ss,
             MIN(v) AS dim_min,
             MAX(v) AS dim_max
      FROM e GROUP BY dim
    )
    SELECT dim, n,
           CAST({fdiv} AS DOUBLE) / {s}.0 AS dim_mean,
           CASE WHEN n > 1 THEN
             sqrt(CAST(n * __ss - __s * __s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
               / {s}.0
           END AS dim_std,
           dim_min, dim_max
    FROM g ORDER BY dim
    """


def dim_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    micro: int = 6,
) -> DataFrame:
    """Per-dimension embedding drift between two corpus snapshots — the
    telemetry a production pipeline runs when a new crawl/model version
    lands: if the embedding distribution moved, similarity thresholds,
    IVF centroids, and PQ codebooks trained on the old snapshot are
    suspect and need retraining. Reports, per dimension: both means
    (exact integer-micro, via :func:`dim_stats`), their delta, and the
    standardized mean difference ``smd = Δmean / √((σ_a²+σ_b²)/2)`` —
    the effect-size form, so one threshold works across dimensions of
    different scales.

    Scale shape: ONE fused posexplode+aggregate over the side-tagged
    union of both snapshots — the partial aggregate sits in the same
    stage as the explode (keyed on the dim ordinal), each side's
    moments accumulate as side-conditional sums, so the single
    exchange carries dims × partitions rows total and there is no
    dim-ordinal join at all. (The first form ran :func:`dim_stats`
    twice and joined — two explode+agg subtrees + a join stage for
    identical values; the fused form halves the stage count, the
    profiling pass behind the r8 SCALE.md entry.) Vectors never
    shuffle. The double arithmetic after the exact integer moments
    uses an identical operation sequence in the SQL twin, so the
    output is bit-equal and hash-checkable. NULL smd when either side
    can't estimate a std (n ≤ 1) or both are zero; a dimension absent
    from either side drops, matching the SQL twin's inner join."""
    s = 10**micro
    u = a.select(F.lit(0).alias("__side"), F.col(vec_col).alias("__vec")).unionByName(
        b.select(F.lit(1).alias("__side"), F.col(vec_col).alias("__vec"))
    )
    u = _spread_for_explode(u)
    q = F.round(F.col("__v").cast("double") * s, 0).cast("long")
    exploded = u.select(
        "__side", F.posexplode("__vec").alias("pos", "__v")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        "__side",
        q.alias("q"),
        (q * q).alias("qq"),
    )

    def side(tag: int, col: Column) -> Column:
        return F.when(F.col("__side") == tag, col)

    g = exploded.groupBy("dim").agg(
        *[
            agg
            for tag, suf in ((0, "a"), (1, "b"))
            for agg in (
                F.count(side(tag, F.col("q"))).alias(f"n_{suf}"),
                limb_sum(side(tag, F.col("q"))).alias(f"__s_{suf}"),
                limb_sum(side(tag, F.col("qq"))).alias(f"__ss_{suf}"),
            )
        ]
    )

    def mean_std(suf: str) -> tuple[Column, Column]:
        return _exact_mean_std(
            F.col(f"n_{suf}"),
            F.col(f"__s_{suf}"),
            F.col(f"__ss_{suf}"),
            s,
        )

    mean_a, std_a = mean_std("a")
    mean_b, std_b = mean_std("b")
    delta = F.col("mean_b") - F.col("mean_a")
    pooled = F.sqrt(
        (
            F.col("std_a") * F.col("std_a") + F.col("std_b") * F.col("std_b")
        )
        / F.lit(2.0)
    )
    return (
        g.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "dim",
            "n_a",
            "n_b",
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            std_a.alias("std_a"),
            std_b.alias("std_b"),
        )
        .select(
            "dim",
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            delta.alias("delta_mean"),
            F.when(pooled > 0, delta / pooled).alias("smd"),
        )
        .orderBy("dim")
    )


def dim_drift_sql(
    table_a: str,
    table_b: str,
    vec_col: str = "embedding",
    micro: int = 6,
) -> str:
    """DuckDB twin of :func:`dim_drift` (same exact integer means, same
    double operation sequence for delta/pooled/smd)."""
    return f"""
    WITH sa AS ({dim_stats_sql(table_a, vec_col, micro)}),
    sb AS ({dim_stats_sql(table_b, vec_col, micro)})
    SELECT sa.dim, sa.n AS n_a, sb.n AS n_b,
           sa.dim_mean AS mean_a, sb.dim_mean AS mean_b,
           sb.dim_mean - sa.dim_mean AS delta_mean,
           CASE WHEN sqrt((sa.dim_std * sa.dim_std + sb.dim_std * sb.dim_std) / 2.0) > 0
                THEN (sb.dim_mean - sa.dim_mean)
                     / sqrt((sa.dim_std * sa.dim_std + sb.dim_std * sb.dim_std) / 2.0)
           END AS smd
    FROM sa JOIN sb USING (dim) ORDER BY sa.dim
    """


def knn_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "q_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k — the
    quality gauge that makes an approximate index tunable (n_probe /
    n_planes trade recall for scan fraction). Both inputs are
    (query_col, id_col, ...) neighbor lists, e.g. :func:`knn_join`
    (ground truth) vs an IVF/SRP probe of the same queries.

    Returns (query_col, n_exact, hits, recall). Scale shape: one
    equi-join on (query, neighbor) + a groupBy on the query id — both
    sides are neighbor lists (|queries| × k rows), never the corpus, so
    evaluation cost is independent of corpus size."""
    hits = (
        exact.select(query_col, id_col)
        .join(approx.select(query_col, id_col), [query_col, id_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    totals = exact.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    return totals.join(hits, query_col, "left").select(
        query_col,
        "n_exact",
        F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        (
            F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_exact")
        ).alias("recall"),
    )


def l2_normalize_expr(vec: Column, nd: int | None = None) -> Column:
    """L2-normalize an embedding (unit vector) — the standard pipeline
    step before cosine retrieval: after it, a plain dot product IS the
    cosine, so index probes and matmul kernels skip the per-pair norm.
    One codegen transform over the array; the norm is the same
    sequential-fold :func:`norm_expr` the DuckDB twin mirrors, and a
    zero vector stays zero (no division). ``nd`` optionally rounds each
    component for hash-stable differential output."""
    dv = _dvec(vec)
    n = norm_expr(dv)
    out = F.when(n == 0.0, dv).otherwise(F.transform(dv, lambda x: x / n))
    if nd is not None:
        out = F.transform(out, lambda x: F.round(x, nd))
    return out


def l2_normalize_sql(vec: str, nd: int | None = None) -> str:
    """DuckDB twin of :func:`l2_normalize_expr` (same fold-order norm,
    same zero-vector guard)."""
    norm = f"sqrt({dot_sql(vec, vec)})"
    comp = f"x::DOUBLE / {norm}"
    if nd is not None:
        comp = f"ROUND({comp}, {nd})"
    return (
        f"CASE WHEN {norm} = 0 THEN [x::DOUBLE FOR x IN {vec}] "
        f"ELSE [{comp} FOR x IN {vec}] END"
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster-scoped embedding near-dups)
# ---------------------------------------------------------------------------

def _spark_round6_np(q):
    """Vectorized replica of Spark's ``round(double, 6)`` (HALF_UP on
    the shortest-repr decimal, NaN/Inf passed through — the RoundBase
    semantics). The fast path rounds on the binary value; entries whose
    scaled fraction sits within 1e-6 of the .5 tie line are re-rounded
    through ``Decimal(repr(x))``, which is value-identical to Java's
    ``BigDecimal.valueOf`` (both use shortest round-trip decimal), so
    grid-boundary values agree with the JVM bit-for-bit."""
    import decimal
    import numpy as np

    q = np.asarray(q, dtype=np.float64)
    out = q.copy()
    finite = np.isfinite(q)
    a = np.abs(q[finite]) * 1e6
    fl = np.floor(a)
    frac = a - fl
    mag = np.where(frac >= 0.5, fl + 1.0, fl)
    out[finite] = np.sign(q[finite]) * mag / 1e6
    risky = np.zeros_like(q, dtype=bool)
    risky[finite] = np.abs(frac - 0.5) < 1e-6
    if risky.any():
        six = decimal.Decimal("0.000001")
        vals = out.copy()
        for i in np.nonzero(risky)[0]:
            vals[i] = float(
                decimal.Decimal(repr(float(q[i]))).quantize(
                    six, rounding=decimal.ROUND_HALF_UP
                )
            )
        out = vals
    return out


def _semantic_cell_scan(pdf, threshold, id_col, vec_col, max_cell):
    """Per-cell SemDeDup kernel: tiled BLAS matmul prefilter over the
    id-sorted cell matrix, then EXACT re-verification of candidates with
    the sequential-fold dot (``np.cumsum`` is a left-to-right scan, so
    the fold order — and hence every last bit — matches
    :func:`dot_expr` / the DuckDB ``list_reduce`` oracle). The matmul
    only has to be loose (prefilter at threshold − 1e-6, ~1e-12 ulp
    error headroom), so pairwise-summation drift can never flip a
    verdict. Returns (ids_sorted, dropped_mask, (ii, jj, cosine6)).
    """
    import numpy as np

    ids = pdf[id_col].to_numpy()
    n = len(ids)
    if max_cell is not None and n > max_cell:
        cell = int(pdf["cell"].iloc[0]) if "cell" in pdf else -1
        raise ValueError(
            f"semantic dedup cell {cell} holds {n} vectors "
            f"(> max_cell={max_cell}); the per-cell verify is O(|cell|^2)"
            " — retrain with more centroids, raise max_cell explicitly,"
            " or sub-block the cell with knn_join_grid"
        )
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    M = np.array(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
    if n < 2:
        return ids, np.zeros(n, dtype=bool), ([], [], [])
    # exact fold norms, reused by prefilter AND verify (cumsum = fold)
    nf = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
    dropped = np.zeros(n, dtype=bool)
    out_i, out_j, out_c = [], [], []
    pre = float(threshold) - 1e-6
    tile = max(16, (32 << 20) // n)  # ~256 MB of fp64 scores per tile
    jidx = np.arange(n)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i0 in range(0, n - 1, tile):
            i1 = min(i0 + tile, n)
            cos = (M[i0:i1] @ M.T) / np.outer(nf[i0:i1], nf)
            hits = cos >= pre  # NaN compares false, like the SQL filter
            hits &= jidx[None, :] > (jidx[i0:i1])[:, None]  # id_a < id_b
            ii, jj = np.nonzero(hits)
            if not len(ii):
                continue
            ii = ii + i0
            dots = np.cumsum(M[ii] * M[jj], axis=1)[:, -1]  # exact fold
            c6 = _spark_round6_np(dots / (nf[ii] * nf[jj]))
            keep = c6 >= float(threshold)
            out_i.append(ii[keep])
            out_j.append(jj[keep])
            out_c.append(c6[keep])
            dropped[jj[keep]] = True
    if out_i:
        out_i, out_j, out_c = (
            np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_c)
        )
    return ids, dropped, (out_i, out_j, out_c)


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 100_000,
) -> DataFrame:
    """Semantic near-duplicate pairs, scoped to k-means cells — the
    SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): documents
    whose embeddings land in the same cluster AND exceed a cosine
    threshold are semantic duplicates even when no n-gram overlaps
    (translations, templated rewrites, paraphrases) — the family the
    MinHash/SimHash operators cannot see.

    Scale shape: assignment is ONE map-only codegen pass
    (:func:`ivf_assignments` — centroid bank folded into one
    expression, evaluated once), then ONE shuffle on the cell id into
    ``applyInPandas``, where each cell is scored by a tiled numpy
    matmul (BLAS, memory-bounded tiles) instead of interpreted
    per-pair array lambdas — the same kernel class as
    :func:`embedding_neardup_pairs_blocked`, ~100× the expression form
    per core. Candidates the matmul flags are re-verified with the
    exact sequential-fold dot and Spark-parity HALF_UP rounding, so
    reported cosines and threshold verdicts are bit-identical to
    :func:`cosine_expr` / the DuckDB oracle. The quadratic verify
    never crosses cell boundaries, so total cost is Σ|cell|² with
    |cell| ≈ n/k, not n².

    ``max_cell`` is the viral-cell guard (same safety convention as
    ``max_band_bucket`` in the MinHash engine): a skewed k-means cell —
    guaranteed eventually on a real corpus with too-few centroids —
    would go quadratic, so any cell larger than the cap fails fast with
    the cell id instead of silently burning a quadratic task. Pass
    ``None`` (or retrain with more centroids / sub-block via
    :func:`knn_join_grid`) when a big cell is intended.

    Returns (cell, id_a, id_b, cosine) with id_a < id_b.
    """
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    assigned = ivf_assignments(corpus, centroids, id_col, vec_col).select(
        "cell", id_col, vec_col
    )
    thr = float(threshold)

    def scan(key, pdf):
        ids, _, (ii, jj, c6) = _semantic_cell_scan(
            pdf, thr, id_col, vec_col, max_cell
        )
        return pd.DataFrame(
            {
                "cell": [int(key[0])] * len(ii),
                "id_a": ids[ii] if len(ii) else [],
                "id_b": ids[jj] if len(jj) else [],
                "cosine": c6,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        scan, schema=f"cell int, id_a {id_type}, id_b {id_type}, cosine double"
    )


def _semantic_survivors_over_assigned(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cell: int | None,
) -> DataFrame:
    """Shared survivor pass over an already-assigned (cell, id, vec)
    frame: one shuffle on the cell id into the per-cell kernel (tiled
    BLAS prefilter + exact fold verify + ``max_cell`` guard), emitting
    survivors directly — no self-join, no anti-join."""
    import pandas as pd

    id_type = assigned.schema[id_col].dataType.simpleString()
    assigned = assigned.select("cell", id_col, vec_col)
    thr = float(threshold)

    def scan(key, pdf):
        ids, dropped, _ = _semantic_cell_scan(
            pdf, thr, id_col, vec_col, max_cell
        )
        kept = ids[~dropped]
        return pd.DataFrame(
            {id_col: kept, "cell": [int(key[0])] * len(kept)}
        )

    return assigned.groupBy("cell").applyInPandas(
        scan, schema=f"{id_col} {id_type}, cell int"
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 100_000,
) -> DataFrame:
    """SemDeDup survivor set: within each cell, a document is dropped
    when a LOWER-id document sits above the cosine threshold — the
    deterministic keep-one-per-neighborhood policy (the paper keeps a
    random representative; min-id makes both engines and every re-run
    agree). Per-pair domination, not transitive closure — for
    closure-based grouping feed :func:`semantic_dedup_pairs` into
    :func:`..dedup.duplicate_clusters`.

    Single-pass plan: assignment once (map-only codegen), then the
    shared survivor pass (:func:`_semantic_survivors_over_assigned`).
    Returns (id, cell) of survivors.
    """
    assigned = ivf_assignments(corpus, centroids, id_col, vec_col)
    return _semantic_survivors_over_assigned(
        assigned, threshold, id_col, vec_col, max_cell
    )


def semantic_dedup_from_index(
    spark,
    path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 100_000,
) -> DataFrame:
    """SemDeDup against a PERSISTED :func:`save_ivf_index` store — the
    recurring-pass shape at corpus scale: cell assignment is already
    materialized as the partition directory layout, so this pass pays
    zero assignment arithmetic (no centroid bank in the plan at all)
    and reads cell-clustered files straight into the per-cell kernel.
    Pair with ``save_ivf_index(..., mode="append")``: append the daily
    batch to the index, re-run the survivor pass — same economics as
    the incremental MinHash store. Semantics identical to
    :func:`semantic_dedup` under the same centroids (pinned in tests).
    """
    assigned = spark.read.parquet(path)
    return _semantic_survivors_over_assigned(
        assigned, threshold, id_col, vec_col, max_cell
    )


def semantic_dedup_sql(
    corpus_table: str,
    threshold: float = 0.95,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle for :func:`semantic_dedup` seeded with the first
    ``n_centroids`` corpus vectors as centroids (same convention as
    :func:`ivf_topk_sql`); assignment argmin matches
    :func:`ivf_assignments`' neg_score/tie ordering exactly."""
    cos_ab = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
    WITH cent AS (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {corpus_table}
        WHERE {id_col} < {n_centroids}
    ),
    assigned AS (
        SELECT e.{id_col}, e.{vec_col},
               (SELECT c.cid FROM cent c
                ORDER BY -({dot_sql(f'e.{vec_col}', 'c.cvec')} / sqrt({dot_sql('c.cvec', 'c.cvec')})) ASC, c.cid ASC
                LIMIT 1) AS cell
        FROM {corpus_table} e
    ),
    drops AS (
        SELECT DISTINCT b.{id_col} AS did
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.{id_col} < b.{id_col}
        WHERE {cos_ab} >= {threshold}
    )
    SELECT a.{id_col}, a.cell FROM assigned a
    WHERE a.{id_col} NOT IN (SELECT did FROM drops)
    """


def semantic_dedup_incremental_sql(
    corpus_table: str,
    store_pred: str,
    batch_pred: str,
    threshold: float = 0.95,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_dedup_incremental`'s PAIR output
    when store and batch are predicates over one corpus table: a pair
    (a, b) is reported iff both land in the same cell (same seeded
    assignment as :func:`semantic_dedup_sql`), b is a batch row, a is
    any store row OR a lower-id batch row, and the rounded cosine
    clears the threshold — id_b is always the losing batch id."""
    cos_ab = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
    WITH cent AS (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {corpus_table}
        WHERE {id_col} < {n_centroids}
    ),
    assigned AS (
        SELECT e.{id_col}, e.{vec_col},
               (SELECT c.cid FROM cent c
                ORDER BY -({dot_sql(f'e.{vec_col}', 'c.cvec')} / sqrt({dot_sql('c.cvec', 'c.cvec')})) ASC, c.cid ASC
                LIMIT 1) AS cell
        FROM {corpus_table} e
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {cos_ab} AS cosine
    FROM assigned a JOIN assigned b ON a.cell = b.cell
    WHERE (b.{id_col}) IN (SELECT {id_col} FROM {corpus_table} WHERE {batch_pred})
      AND ((a.{id_col}) IN (SELECT {id_col} FROM {corpus_table} WHERE {store_pred})
           OR ((a.{id_col}) IN (SELECT {id_col} FROM {corpus_table} WHERE {batch_pred})
               AND a.{id_col} < b.{id_col}))
      AND a.{id_col} <> b.{id_col}
      AND {cos_ab} >= {threshold}
    """


def _semantic_incr_cell_scan(pdf, threshold, id_col, vec_col, max_cell):
    """Per-cell kernel of :func:`semantic_dedup_incremental`: rows carry
    a ``__src`` tag ('store'/'batch'); sorted (store-first, then batch
    by id), a tiled BLAS matmul scores every row against the BATCH
    columns only — (|store|+|batch|)×|batch| flops, never the store
    quadratic — and a batch row loses to any earlier row (every store
    row, or a lower-id batch row). Same prefilter + exact-fold verify +
    Spark-parity rounding as :func:`_semantic_cell_scan`. Returns
    (id_a, id_b, cosine6) pair arrays with id_b always the losing
    batch id."""
    import numpy as np

    n = len(pdf)
    if max_cell is not None and n > max_cell:
        cell = int(pdf["cell"].iloc[0]) if "cell" in pdf else -1
        raise ValueError(
            f"semantic dedup cell {cell} holds {n} vectors "
            f"(> max_cell={max_cell}); the per-cell verify is "
            "O(|cell|·|batch|) — retrain with more centroids or raise "
            "max_cell explicitly"
        )
    is_batch = (pdf["__src"] == "batch").to_numpy()
    ids = pdf[id_col].to_numpy()
    order = np.lexsort((ids, is_batch))  # store rows first, each by id
    ids = ids[order]
    is_batch = is_batch[order]
    nb = int(is_batch.sum())
    if nb == 0 or n < 2:
        return [], [], []
    M = np.array(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
    nf = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])  # exact fold norms
    bstart = n - nb
    MB, nfb = M[bstart:], nf[bstart:]
    out_i, out_j, out_c = [], [], []
    pre = float(threshold) - 1e-6
    tile = max(16, (32 << 20) // max(nb, 1))
    bcols = np.arange(bstart, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i0 in range(0, n - 1, tile):
            i1 = min(i0 + tile, n)
            cos = (M[i0:i1] @ MB.T) / np.outer(nf[i0:i1], nfb)
            hits = cos >= pre  # NaN compares false
            hits &= bcols[None, :] > np.arange(i0, i1)[:, None]
            ii, jj = np.nonzero(hits)
            if not len(ii):
                continue
            ii = ii + i0
            jj = jj + bstart
            dots = np.cumsum(M[ii] * M[jj], axis=1)[:, -1]  # exact fold
            c6 = _spark_round6_np(dots / (nf[ii] * nf[jj]))
            keep = c6 >= float(threshold)
            out_i.append(ids[ii[keep]])
            out_j.append(ids[jj[keep]])
            out_c.append(c6[keep])
    if out_i:
        return (
            np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_c)
        )
    return [], [], []


def semantic_dedup_incremental(
    new: DataFrame,
    index_path: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 100_000,
    update_index: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Semantic-dedup a NEW batch against a persisted
    :func:`save_ivf_index` corpus — the embedding twin of
    :func:`..dedup.minhash_dedup_incremental`, and the daily-crawl
    shape for paraphrase dedup at 100 TB: the corpus's vectors are
    never rescanned; only the cell directories the batch actually
    touches are read.

    Returns ``(survivors, pairs)``: ``survivors`` = (id, cell) of new
    rows that duplicate neither a stored vector nor a lower-id batch
    row; ``pairs`` = (id_a, id_b, cosine) with ``id_b`` the losing new
    id. A store match drops the new doc whatever the id order — the
    store is the canonical corpus (same rule as the MinHash store);
    within the batch the lower id dominates per pair, matching
    :func:`semantic_dedup`'s policy, so under the append-stable id
    convention (new ids sort after stored) the survivor set equals
    ``semantic_dedup(store ∪ batch) ∩ batch`` — pinned in pytest.

    Scale shape: ONE map-only assignment pass over the batch; the
    batch's distinct cells (≤ n_centroids values, a bounded driver
    list) prune the index read to those directories
    (``PartitionFilters``); one shuffle on the cell id into the
    asymmetric kernel — (|store_cell|+|batch_cell|) × |batch_cell|
    BLAS flops per cell, never the store-side quadratic. The verified
    pair set is collision-bounded and localCheckpoint-ed, so the
    survivor anti-join and the optional index append never re-run the
    kernel. With ``update_index=True`` survivors' assignments append
    into the unchanged directory layout (fixed centroid bank), keeping
    the loop invariant: the index describes exactly the deduplicated
    corpus.
    """
    spark = new.sparkSession
    id_type = new.schema[id_col].dataType.simpleString()
    # the batch is the bounded side; persist so the heavy literal-
    # centroid assignment expression runs once, not per consumer
    # (cells listing, kernel union, survivor anti-join, index append)
    assigned_new = (
        ivf_assignments(new, centroids, id_col, vec_col)
        .select("cell", id_col, vec_col)
        .persist()
    )
    cells = sorted(
        r[0] for r in assigned_new.select("cell").distinct().collect()
    )
    stored = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin([int(c) for c in cells]))
        .select("cell", id_col, vec_col)
    )
    both = stored.withColumn("__src", F.lit("store")).unionByName(
        assigned_new.withColumn("__src", F.lit("batch"))
    )
    thr = float(threshold)

    def scan(key, pdf):
        import pandas as pd

        ia, ib, c6 = _semantic_incr_cell_scan(
            pdf, thr, id_col, vec_col, max_cell
        )
        return pd.DataFrame(
            {"id_a": ia, "id_b": ib, "cosine": c6, "cell": int(key[0])}
        )

    pairs = (
        both.groupBy("cell")
        .applyInPandas(
            scan,
            schema=(
                f"id_a {id_type}, id_b {id_type}, cosine double, cell int"
            ),
        )
        .localCheckpoint()
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # materialize survivors (the batch side — bounded) so the cached
    # assignment can be released before returning; without this a
    # long-running caller (stream_semantic_ingest, one call per
    # micro-batch) accumulates one orphaned cache entry per batch
    survivors = (
        assigned_new.join(losers, id_col, "left_anti").localCheckpoint()
    )
    if update_index:
        (
            survivors.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(index_path)
        )
    assigned_new.unpersist()
    return (
        survivors.select(id_col, "cell"),
        pairs.select("id_a", "id_b", "cosine"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bank: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    bank_id: str = "bench_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    document whose embedding sits within ``threshold`` cosine of ANY
    benchmark/eval embedding, reporting the worst (highest-cosine)
    hit. This is the semantic half of the eval-leakage pair — the
    n-gram scan (:func:`..dedup.contamination_pairs`, reference scope
    has no analogue) catches verbatim leaks; this catches paraphrased
    or translated eval items that share no shingles.

    Scale shape: ZERO shuffles. The benchmark bank is the bounded side
    (eval suites are thousands of rows, never corpus-scale), collected
    once and shipped as a Spark broadcast like a model; the corpus is
    scanned map-only, each Arrow batch scored against the whole bank
    with ONE numpy matmul (BLAS), and the per-document best hit is
    decided inside the batch — a corpus row lives in exactly one
    batch, so no cross-partition reduction is ever needed. At 100 TB
    this is a single read-only pass, embarrassingly parallel across
    executors.

    Exactness: the matmul is only a prefilter (threshold − 1e-6, far
    beyond fp64 matmul drift); every candidate is re-verified with the
    sequential-fold dot (``np.cumsum`` = left-to-right fold, matching
    :func:`dot_expr`) and Spark-parity HALF_UP rounding
    (:func:`_spark_round6_np`), so reported cosines, the threshold
    verdict, and the (cosine desc, bank id asc) best-hit choice are
    bit-identical to the DuckDB twin — hash-checkable.

    Returns (corpus_id, bank_id, cosine) — one row per contaminated
    document.
    """
    c_type = corpus.schema[corpus_id].dataType.simpleString()
    b_type = bank.schema[bank_id].dataType.simpleString()
    spark = corpus.sparkSession
    schema = f"`{corpus_id}` {c_type}, `{bank_id}` {b_type}, `cosine` double"
    b_rows = bank.select(F.col(bank_id), F.col(vec_col)).collect()
    if not b_rows:
        return local_frame(spark, [], schema)
    bc = spark.sparkContext.broadcast(
        ([r[0] for r in b_rows], [[float(x) for x in r[1]] for r in b_rows])
    )
    thr = float(threshold)
    pre = thr - 1e-6

    def scan(batches):
        import numpy as np
        import pandas as pd

        ids_b, vec_b = bc.value
        ids_b = np.asarray(ids_b)
        Q = np.array(vec_b, dtype=np.float64)
        qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])  # exact fold norms
        with np.errstate(divide="ignore", invalid="ignore"):
            for pdf in batches:
                if not len(pdf):
                    continue
                cids = pdf[corpus_id].to_numpy()
                M = np.array(list(pdf[vec_col]), dtype=np.float64)
                cn = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
                cos = (M @ Q.T) / np.outer(cn, qn)
                ii, jj = np.nonzero(cos >= pre)  # NaN compares false
                if not len(ii):
                    continue
                # exact fold re-verify of the matmul candidates
                dots = np.cumsum(M[ii] * Q[jj], axis=1)[:, -1]
                c6 = _spark_round6_np(dots / (cn[ii] * qn[jj]))
                keep = c6 >= thr
                ii, jj, c6 = ii[keep], jj[keep], c6[keep]
                if not len(ii):
                    continue
                # best hit per corpus row: cosine desc, bank id asc
                order = np.lexsort((ids_b[jj], -c6, ii))
                first = np.unique(ii[order], return_index=True)[1]
                sel = order[first]
                yield pd.DataFrame(
                    {
                        corpus_id: cids[ii[sel]],
                        bank_id: ids_b[jj[sel]],
                        "cosine": c6[sel],
                    }
                )

    return corpus.select(corpus_id, vec_col).mapInPandas(scan, schema=schema)


def semantic_decontaminate_sql(
    corpus_sql: str,
    bank_sql: str,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    bank_id: str = "bench_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` (same rounded
    cosine, same threshold verdict, same best-hit total order)."""
    cos = cosine_sql(f"c.{vec_col}", f"b.{vec_col}")
    return f"""
    WITH c AS ({corpus_sql}), b AS ({bank_sql}),
    hits AS (
        SELECT c.{corpus_id}, b.{bank_id}, {cos} AS cosine
        FROM c CROSS JOIN b
        WHERE {cos} >= {threshold}
    )
    SELECT {corpus_id}, {bank_id}, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY {corpus_id} ORDER BY cosine DESC, {bank_id}) AS rn
        FROM hits
    ) WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ scale path)
# ---------------------------------------------------------------------------

def opq_rotation(
    corpus: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    micro: int = 6,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al. 2013, "Optimized Product
    Quantization", the non-iterative OPQ-P variant): rotate vectors
    into the PCA basis with the principal directions allocated to the
    ``m`` PQ subspaces so each subspace carries a BALANCED share of the
    variance (greedy bin-packing on Σ log λ — the paper's
    eigenvalue-allocation rule). Plain PQ quantizes contiguous
    coordinate blocks; on anisotropic data one block hogs the variance
    and its k codes saturate while other blocks quantize noise. The
    rotation equalizes the load, cutting quantization error at the
    SAME code budget — recall@k rises with zero extra bytes stored
    (pinned in ``tests/test_linalg_classifier.py``).

    Deterministic rebuild: the PCA comes from exact integer moments
    with sign-fixed components (:func:`..linalg.pca_model`), the
    allocation is a pure greedy over the sorted eigenvalues, so two
    fits of the same corpus yield the identical matrix — same contract
    as :func:`train_ivf_centroids`.

    Returns the d×d orthonormal rotation as row-major lists
    (``x' = R @ x``; rows are reordered principal directions; subspace
    ``s`` is rows ``s·d/m .. (s+1)·d/m − 1``). Cost: one d(d+3)/2-row
    moment aggregate (corpus never collected) + an O(d³) driver eigh —
    a model fit, run once and persisted beside the codebooks."""
    import math

    from . import linalg as LA

    model = LA.pca_model(corpus, vec_col=vec_col, micro=micro)
    vals = model["eigvals"]
    comps = model["components"]  # d × d rows, descending eigenvalue
    d = len(vals)
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for i in range(d):  # descending λ: biggest loads placed first
        b = min(
            (j for j in range(m) if len(buckets[j]) < sub),
            key=lambda j: (sums[j], j),
        )
        buckets[b].append(i)
        sums[b] += math.log(max(vals[i], 1e-300))
    order = [i for bucket in buckets for i in bucket]
    return [comps[i] for i in order]


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 11,
    max_iter: int = 20,
    sample_fraction: float | None = None,
    rotation: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` equal subspaces and k-means each to ``k`` codes —
    ``codebooks[s][c]`` is subspace ``s``'s code-``c`` centroid.

    This is the compression half of the canonical billion-scale ANN
    design (IVF routes, PQ compresses): a 64-dim float32 vector becomes
    ``m`` small integers (m=8, k=16 → 8 nibbles = 4 bytes, 64×
    smaller), so the candidate scan after cell routing reads codes, not
    vectors. Training is ``m`` deterministic MLlib KMeans fits (fixed
    per-subspace seed → same codebooks on rebuild, the same contract
    as :func:`train_ivf_centroids`); at 100 TB pass
    ``sample_fraction`` — codebook quality needs ~1k×k vectors per
    subspace, not the corpus.

    ``rotation`` (a d×d row-major orthonormal matrix, e.g.
    :func:`opq_rotation`) trains the codebooks in the ROTATED space —
    the OPQ path. Pass the SAME matrix to :func:`pq_encode` /
    :func:`pq_topk` / :func:`pq_topk_rerank`; an orthonormal rotation
    preserves norms and dot products, so scores stay cosines and the
    exact rerank stage is untouched."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    normed = corpus.select(
        _dvec(F.col(vec_col)).alias("__v"), norm_expr(F.col(vec_col)).alias("__n")
    ).filter(F.col("__n") > 0)
    if sample_fraction is not None:
        normed = normed.sample(fraction=sample_fraction, seed=seed)
    normed = normed.select(
        F.transform("__v", lambda x: x / F.col("__n")).alias("__u")
    )
    if rotation is not None:
        import numpy as np

        R = np.array(rotation, dtype=np.float64)
        if R.shape != (dim, dim):
            raise ValueError(f"rotation must be {dim}x{dim}, got {R.shape}")

        def rotate(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["__u"]), dtype=np.float64)
                yield pd.DataFrame({"__u": list(mat @ R.T)})

        normed = normed.mapInPandas(rotate, schema="__u array<double>")
    # one persisted pass feeds all m fits
    normed.persist()
    try:
        books: list[list[list[float]]] = []
        for s in range(m):
            feats = normed.select(
                array_to_vector(
                    F.slice("__u", s * sub + 1, sub)
                ).alias("features")
            )
            model = KMeans(
                k=int(k), seed=int(seed) + s, maxIter=int(max_iter)
            ).fit(feats)
            books.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
    finally:
        normed.unpersist()
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """(id, codes) — each vector L2-normalized and encoded as its
    nearest code per subspace. Arrow-vectorized: one numpy distance
    matrix per (batch × subspace), the same BLAS-kernel shape as the
    blocked k-NN engines; codes are the persisted form a 100 TB index
    stores (vectors never leave the encoder). With ``rotation`` (the
    OPQ path) the batch is rotated by one extra BLAS matmul before
    encoding — same matrix the codebooks were trained with."""
    import numpy as np

    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)  # (m, k, sub)
    R = (
        np.array(rotation, dtype=np.float64)
        if rotation is not None
        else None
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    src = corpus.select(
        F.col(id_col).alias("__id"), _dvec(F.col(vec_col)).alias("__v")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["__v"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            mat = mat / norms[:, None]
            if R is not None:
                mat = mat @ R.T
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                xs = mat[:, s * sub : (s + 1) * sub]           # (n, sub)
                # ||x - c||² argmin == (||c||² - 2·x·c) argmin
                d = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (xs @ books[s].T)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"__id": pdf["__id"], "codes": list(codes)}
            )

    out = src.mapInPandas(encode, schema=f"__id {id_type}, codes array<int>")
    return out.select(F.col("__id").alias(id_col), "codes")


def _pq_lut_flat(
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    rotation: list[list[float]] | None = None,
) -> list[float]:
    """Flattened ADC lookup table: lut[s*k + c] = dot(q̂_s, codebook[s][c]).
    With ``rotation`` the normalized query rotates into the OPQ space
    first (orthonormal, so the ADC score is still the cosine)."""
    import math

    nq = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / nq for x in query_vec]
    if rotation is not None:
        q = [sum(r * x for r, x in zip(row, q)) for row in rotation]
    m, k = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    flat: list[float] = []
    for s in range(m):
        qs = q[s * sub : (s + 1) * sub]
        for c in range(k):
            flat.append(sum(a * b for a, b in zip(qs, codebooks[s][c])))
    return flat


def pq_topk(
    codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k_out: int,
    id_col: str = "vec_id",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes — PURE CODEGEN, no Python in the scan:
    the query's per-subspace dot products with every code become an
    ``m×k`` literal lookup array, and each row's approximate cosine is
    ``m`` array lookups summed (``aggregate`` over the code array).
    Top-k compiles to TakeOrderedAndProject. This is the scan shape a
    compressed 100 TB index wants: bytes read = codes, flops = m adds
    per row."""
    m, k = len(codebooks), len(codebooks[0])
    lut = F.array(
        *[
            F.lit(float(v))
            for v in _pq_lut_flat(query_vec, codebooks, rotation)
        ]
    )
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(lut, s * F.lit(k) + F.element_at(F.col("codes"), s + 1) + 1),
    )
    return (
        codes.select(F.col(id_col), score.alias("score_pq"))
        .orderBy(F.col("score_pq").desc(), F.col(id_col))
        .limit(k_out)
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k_out: int,
    shortlist_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Two-stage PQ search (the production IVF-PQ read path): ADC over
    the compressed codes shortlists ``shortlist_mult × k`` candidates,
    then ONLY those ids join back to the full vectors for an exact
    cosine rerank — the full-precision reads are bounded by the
    shortlist, not the corpus. Output matches :func:`cosine_topk`'s
    schema (id, cosine)."""
    short = pq_topk(
        codes, query_vec, codebooks, k_out * shortlist_mult, id_col, rotation
    )
    cand = corpus.join(
        F.broadcast(short.select(id_col)), [id_col], "left_semi"
    )
    return cosine_topk(cand, query_vec, k_out, id_col, vec_col)


def pq_seed_codebooks(
    seed_vecs: list[tuple[int, list[float]]],
    m: int = 8,
    perm: list[int] | None = None,
) -> list[list[list[float]]]:
    """Seeded PQ codebooks: code ``c`` of subspace ``s`` is the
    ``s``-th slice of the L2-normalized ``c``-th seed vector — the PQ
    twin of the seeded IVF centroids (:func:`ivf_topk_sql`'s contract):
    training is pluggable k-means (:func:`train_pq_codebooks`, pinned in
    pytest); seeding makes the codebooks SQL-rederivable so the driver's
    DuckDB oracle can replay the FULL encode→ADC→rerank pipeline
    value-exactly.

    All arithmetic is pure-Python sequential folds (``sum(gen)`` /
    ``math.sqrt``), bit-identical to the DuckDB ``list_reduce`` fold in
    :func:`dot_sql` — so the codebook floats on both engines are the
    same doubles. ``perm`` (the OPQ twin) permutes the normalized
    vector before slicing: position ``i`` takes input dim ``perm[i]``,
    exactly :func:`perm_rotation`'s matrix action."""
    import math

    books: list[list[list[float]]] = []
    dim = len(seed_vecs[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    units: list[list[float]] = []
    for _sid, v in sorted(seed_vecs, key=lambda t: t[0]):
        n = math.sqrt(sum(float(x) * float(x) for x in v)) or 1.0
        u = [float(x) / n for x in v]
        if perm is not None:
            u = [u[p] for p in perm]
        units.append(u)
    for s in range(m):
        books.append([u[s * sub : (s + 1) * sub] for u in units])
    return books


def perm_rotation(perm: list[int]) -> list[list[float]]:
    """Permutation matrix (row-major) for ``perm``: row ``i`` is 1.0 at
    column ``perm[i]`` — an orthonormal rotation whose action is a pure
    dimension shuffle, so ``mat @ R.T`` in the encoder is bit-exact
    (multiplying by 1.0 and adding exact zeros). The cheap deterministic
    stand-in for the parametric OPQ rotation (:func:`opq_rotation`,
    pytest-pinned): it reallocates correlated adjacent dimensions across
    subspaces, and — unlike a dense PCA basis — its SQL twin is a list
    re-index, so the OPQ probe entry keeps a value-level oracle."""
    d = len(perm)
    if sorted(perm) != list(range(d)):
        raise ValueError("perm must be a permutation of range(d)")
    return [[1.0 if j == perm[i] else 0.0 for j in range(d)] for i in range(d)]


def stride_perm(dim: int, m: int) -> list[int]:
    """Transpose-interleave permutation: output position ``i`` reads
    input dim ``(i % m) * (dim // m) + i // m``, spreading each run of
    adjacent (typically correlated) input dims across all ``m``
    subspaces — the dimension-reallocation effect OPQ's learned
    rotation approximates (Ge et al. 2013), fixed and data-free."""
    sub = dim // m
    return [(i % m) * sub + i // m for i in range(dim)]


def pq_topk_rerank_sql(
    corpus_table: str,
    query_vec: list[float],
    k_out: int,
    m: int = 8,
    k: int = 16,
    shortlist_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    perm: list[int] | None = None,
) -> str:
    """DuckDB oracle for :func:`pq_topk_rerank` over SEEDED codebooks
    (:func:`pq_seed_codebooks`): rebuilds the codebooks from the first
    ``k`` corpus vectors, re-encodes every row (same argmin expression
    ``dot(c,c) - 2*dot(u_s,c)`` as the encoder), replays the ADC scan
    with an ordered left-fold (matching Spark's ``F.aggregate``), and
    exact-reranks the shortlist with :func:`cosine_sql`. The processed
    query (normalized + permuted) is inlined per-subspace as literal
    doubles — the same values the Spark LUT is built from, so both
    engines fold identical inputs.

    Known precision boundary: the PERSISTED codes come from
    :func:`pq_encode`'s numpy path (pairwise-summed norms, BLAS
    matmuls), while this oracle re-encodes with sequential folds — a
    vector whose two nearest codes sit within ~1e-15 of each other
    could encode differently per engine and flip the ADC shortlist.
    Same accepted ulp-tie exposure as the k-NN/semantic oracles
    (vanishing for real-valued embeddings; has never fired across
    sf0.001–sf1 on the generated corpora)."""
    import math

    sub = dim // m
    nq = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    q = [float(x) / nq for x in query_vec]
    if perm is not None:
        q = [q[p] for p in perm]
    qsub_rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            s, ", ".join(repr(v) for v in q[s * sub : (s + 1) * sub])
        )
        for s in range(m)
    )
    qlit_raw = "[" + ", ".join(repr(float(v)) for v in query_vec) + "]"
    if perm is not None:
        permuted = "list_value({})".format(
            ", ".join(f"__un[{p + 1}]" for p in perm)
        )
    else:
        permuted = "__un"
    norm = dot_sql("v", "v")
    return f"""
    WITH corpus AS (
        SELECT {id_col} AS vid, {vec_col} AS v FROM {corpus_table}
    ),
    unit AS (
        SELECT vid, {permuted} AS u FROM (
            SELECT vid,
                   [ (v)[i]::DOUBLE / (CASE WHEN sqrt({norm}) = 0
                                       THEN 1.0 ELSE sqrt({norm}) END)
                     FOR i IN range(1, {dim} + 1) ] AS __un
            FROM corpus
        )
    ),
    books AS (
        SELECT seeds.vid AS code, ss.s,
               list_slice(seeds.u, ss.s * {sub} + 1, (ss.s + 1) * {sub}) AS bv
        FROM (SELECT vid, u FROM unit WHERE vid < {k}) seeds
        CROSS JOIN (SELECT unnest(range({m})) AS s) ss
    ),
    rowsub AS (
        SELECT unit.vid, ss.s,
               list_slice(unit.u, ss.s * {sub} + 1, (ss.s + 1) * {sub}) AS us
        FROM unit CROSS JOIN (SELECT unnest(range({m})) AS s) ss
    ),
    codes AS (
        SELECT r.vid, r.s,
               (SELECT b.code FROM books b WHERE b.s = r.s
                ORDER BY ({dot_sql('b.bv', 'b.bv')}
                          - 2 * {dot_sql('r.us', 'b.bv')}) ASC, b.code ASC
                LIMIT 1) AS code
        FROM rowsub r
    ),
    qsub AS (SELECT * FROM (VALUES {qsub_rows}) AS t(s, qs)),
    lut AS (
        SELECT b.s, b.code, {dot_sql('q.qs', 'b.bv')} AS lv
        FROM books b JOIN qsub q ON q.s = b.s
    ),
    adc AS (
        SELECT c.vid,
               list_reduce(list_prepend(0.0, list(l.lv ORDER BY c.s)),
                           (acc, x) -> acc + x) AS score_pq
        FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
        GROUP BY c.vid
    ),
    short AS (
        SELECT vid FROM adc
        ORDER BY score_pq DESC, vid LIMIT {k_out * shortlist_mult}
    )
    SELECT e.{id_col}, {cosine_sql(f'e.{vec_col}', qlit_raw)} AS cosine
    FROM {corpus_table} e JOIN short ON e.{id_col} = short.vid
    ORDER BY cosine DESC, e.{id_col} LIMIT {k_out}
    """
