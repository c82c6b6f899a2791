"""Distributed embedding linear algebra: exact Gram/second-moment
matrix, covariance, and PCA (training-data extension).

Whitening/PCA is the step the SemDeDup paper (Abbas et al. 2023) and
every IVF/OPQ index build run before clustering a 100 TB embedding
corpus: the d x d second-moment matrix is the ONLY corpus-sized
computation, and it reduces perfectly — each partition contributes one
d x d partial, the shuffle carries d(d+1)/2 x n_partitions tiny rows,
and the eigendecomposition of the resulting d x d matrix is driver-side
O(d^3) (micro-work for d <= a few thousand).

Scale shape:

- ``mapInPandas`` computes per-partition partial moments with ONE
  integer numpy matmul per tile (Q^T Q accumulates every pairwise
  product of the tile at BLAS-class speed); the vectors never shuffle.
- Components are quantized to integer micro-units and the partial
  products accumulate in arbitrary-precision Python ints, summed to
  DECIMAL(38,0) by Spark — bit-exact regardless of partitioning, row
  order, or engine (the repo's cross-engine convention, SCALE.md), so
  the Gram matrix hash-matches a DuckDB unnest-join twin.
- PCA itself (``pca_model`` -> ``pca_project``) collects only the
  d x d moment table (bounded, never the corpus), eigendecomposes on
  the driver, and projects with one float64 matmul per Arrow batch.

The reference has no linear-algebra surface (SURVEY.md section 2 — it
is a sync/analytics engine); this module exists for the LLM-pipeline
mandate (dedup preprocessing, index build, whitened similarity).
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .aggregate import limb_sum

MICRO = 6  # component quantization: round(v * 10^6) half-up, stored int


def _round0_np(x):
    """Vectorized replica of Spark's ``round(double, 0)`` (HALF_UP on
    the shortest-repr decimal — java.math.BigDecimal.valueOf
    semantics, same contract as the SemDeDup kernel's 6-dp variant).
    The fast path rounds the binary value; entries within 1e-6 of the
    .5 tie line re-round through ``Decimal(repr(x))``, which is
    value-identical to the JVM's shortest round-trip decimal."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    a = np.abs(x)
    fl = np.floor(a)
    frac = a - fl
    mag = np.where(frac >= 0.5, fl + 1.0, fl)
    out = np.sign(x) * mag
    risky = np.abs(frac - 0.5) < 1e-6
    if risky.any():
        one = decimal.Decimal(1)
        for i in np.argwhere(risky):
            i = tuple(i)
            out[i] = float(
                decimal.Decimal(repr(float(x[i]))).quantize(
                    one, rounding=decimal.ROUND_HALF_UP
                )
            )
    return out.astype(np.int64)


def _moment_partials(
    df: DataFrame, vec_col: str, micro: int = MICRO
) -> DataFrame:
    """Per-partition exact integer moment partials.

    Output rows: ``(i, j, n, s)`` with 1-based dims; ``j >= i >= 1``
    carries the pairwise product sum ``sum(q_i * q_j)``, ``j = 0``
    carries the first moment ``sum(q_i)``; ``n`` is the partition row
    count (replicated per row — the partial set is only
    d(d+3)/2 rows per partition, so the redundancy is free and keeps
    the aggregate one uniform groupBy).

    Tiles are sized so the int64 matmul cannot overflow
    (``tile * max|q|^2 < 2^62``); cross-tile accumulation is in Python
    ints (unbounded), emitted as DECIMAL(38,0).
    """
    s = 10**micro

    def partials(batches):
        import numpy as np
        import pandas as pd

        d = None
        acc = None  # object ndarray: exact Python-int pair sums
        first = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            if d is None:
                d = M.shape[1]
                acc = np.zeros((d, d), dtype=object)
                first = np.zeros(d, dtype=object)
            Q = _round0_np(M * s)
            maxq = int(np.abs(Q).max()) or 1
            tile = max(1, (1 << 62) // (maxq * maxq))
            for t0 in range(0, len(Q), tile):
                T = Q[t0 : t0 + tile]
                acc += (T.T @ T).astype(object)
                first += T.sum(axis=0, dtype=np.int64).astype(object)
            n += len(Q)
        if d is None:
            return
        dec = decimal.Decimal
        ii, jj, ss = [], [], []
        for i in range(d):
            ii.append(i + 1)
            jj.append(0)
            ss.append(dec(int(first[i])))
            for j in range(i, d):
                ii.append(i + 1)
                jj.append(j + 1)
                ss.append(dec(int(acc[i, j])))
        yield pd.DataFrame(
            {"i": ii, "j": jj, "n": [n] * len(ii), "s": ss}
        )

    return df.select(vec_col).mapInPandas(
        partials, schema="i int, j int, n long, s decimal(38,0)"
    )


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", micro: int = MICRO
) -> DataFrame:
    """Exact second-moment (uncentered Gram) matrix, upper triangle:
    ``(i, j, n, gram_avg)`` with ``gram_avg = E[x_i * x_j]``.

    One narrow ``mapInPandas`` pass + one groupBy over
    d(d+1)/2 x n_partitions tiny partial rows — the corpus never
    shuffles. Arithmetic is the repo's exact-integer convention:
    components quantized half-up to ``10^micro`` units, products
    summed in DECIMAL(38,0), and the mean one half-up integer division
    (the ``floor((2s+n)/2n)`` convention shared with ``dim_stats``),
    so the result is independent of partitioning and engine — it
    hash-matches :func:`gram_matrix_sql` bit-for-bit.
    """
    s = 10**micro
    g = (
        _moment_partials(df, vec_col, micro)
        .filter(F.col("j") >= 1)
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("__s"),
        )
    )
    nn = F.col("n").cast("decimal(38,0)")
    x = F.col("__s") * 2 + nn  # half-up division: floor((2s + n) / 2n)
    y = nn * 2
    avg_q = (x - F.pmod(x, y)) / y
    return g.select(
        "i",
        "j",
        "n",
        (
            avg_q.cast("decimal(38,0)").cast("double") / F.lit(float(s * s))
        ).alias("gram_avg"),
    ).orderBy("i", "j")


def gram_matrix_sql(
    table: str, vec_col: str = "embedding", micro: int = MICRO
) -> str:
    """DuckDB twin of :func:`gram_matrix` — identical quantization,
    DECIMAL(38,0) sums, and half-up mean division (unnest self-join on
    the row id; fine at oracle scale, the Spark side is the engine)."""
    s = 10**micro
    fdiv = (
        "((x - (((x) % (y) + (y)) % (y))) // (y))"
        .replace("x", "(2 * __s + n)")
        .replace("y", "(2 * n)")
    )
    return f"""
    WITH __r AS (
      SELECT ROW_NUMBER() OVER () AS rid, {vec_col} AS __v FROM {table}
    ), __q AS (
      SELECT rid,
             generate_subscripts(__v, 1)::BIGINT AS dim,
             ROUND(unnest(__v)::DOUBLE * {s})::BIGINT AS qv
      FROM __r
    ), __g AS (
      SELECT a.dim AS i, b.dim AS j,
             COUNT(*)::BIGINT AS n,
             SUM(a.qv::DECIMAL(38,0) * b.qv)::DECIMAL(38,0) AS __s
      FROM __q a JOIN __q b ON a.rid = b.rid AND b.dim >= a.dim
      GROUP BY 1, 2
    )
    SELECT i::INT AS i, j::INT AS j, n,
           CAST({fdiv} AS DOUBLE) / {float(s * s)} AS gram_avg
    FROM __g ORDER BY i, j
    """


def _collect_moments(df: DataFrame, vec_col: str, micro: int = MICRO):
    """Driver-side exact moments: ``(n, S, P)`` with ``S[i]`` the
    integer first-moment vector and ``P[i][j]`` the integer pairwise
    product matrix (symmetric, Python ints). Collects only the
    d(d+3)/2-row aggregate — never the corpus."""
    rows = (
        _moment_partials(df, vec_col, micro)
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .collect()
    )
    d = max(r["i"] for r in rows)
    n = 0
    S = [0] * d
    P = [[0] * d for _ in range(d)]
    for r in rows:
        n = max(n, r["n"])
        v = int(r["s"])
        if r["j"] == 0:
            S[r["i"] - 1] = v
        else:
            P[r["i"] - 1][r["j"] - 1] = v
            P[r["j"] - 1][r["i"] - 1] = v
    return n, S, P


def pca_model(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int | None = None,
    micro: int = MICRO,
) -> dict:
    """Fit PCA on an embedding column: exact distributed covariance ->
    driver-side ``eigh`` of the d x d matrix (O(d^3) micro-work).

    The sample covariance is built from the exact integer moments
    (``cov_ij = (n*P_ij - S_i*S_j) / (s^2 * n * (n-1))`` with an exact
    integer numerator), so the fit is independent of partitioning.
    Component signs are fixed (largest-|entry| coordinate positive) so
    the basis is deterministic across LAPACK builds.

    Returns ``{"n", "mean", "eigvals", "components", "micro"}`` with
    ``components`` a k x d row-major list (descending eigenvalue
    order) — plain JSON-able data, persistable like every other model
    table in this repo.
    """
    import numpy as np

    n, S, P = _collect_moments(df, vec_col, micro)
    if n < 2:
        raise ValueError("pca_model needs at least 2 rows")
    d = len(S)
    s = 10**micro
    cov = np.empty((d, d), dtype=np.float64)
    for i in range(d):
        for j in range(i, d):
            num = n * P[i][j] - S[i] * S[j]
            cov[i, j] = cov[j, i] = float(num) / (
                float(s) * float(s) * float(n) * float(n - 1)
            )
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals = vals[order]
    vecs = vecs[:, order]  # columns = components
    for c in range(vecs.shape[1]):  # deterministic sign
        a = vecs[:, c]
        if a[int(np.argmax(np.abs(a)))] < 0:
            vecs[:, c] = -a
    if k is not None:
        vals, vecs = vals[:k], vecs[:, :k]
    mean = [Si / (float(s) * n) for Si in S]
    return {
        "n": n,
        "mean": mean,
        "eigvals": [float(v) for v in vals],
        "components": vecs.T.tolist(),  # k x d
        "micro": micro,
    }


def pca_project(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    center: bool = True,
    eps: float = 1e-12,
) -> DataFrame:
    """Project an embedding column onto a fitted PCA basis —
    ``(id_col, proj array<double>)``, one float64 matmul per Arrow
    batch (map-only: no shuffle, no collect; the k x d component
    matrix rides into each task as a closure literal).

    ``whiten=True`` scales each coordinate by ``1/sqrt(eigval + eps)``
    (unit-variance components — the SemDeDup/OPQ preprocessing step).
    """
    import numpy as np

    C = np.array(model["components"], dtype=np.float64)  # k x d
    mu = np.array(model["mean"], dtype=np.float64) if center else None
    scale = (
        1.0 / np.sqrt(np.array(model["eigvals"], dtype=np.float64)[: len(C)] + eps)
        if whiten
        else None
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            if mu is not None:
                M = M - mu
            Pj = M @ C.T
            if scale is not None:
                Pj = Pj * scale
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "proj": list(Pj)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        project, schema=f"{id_col} {id_type}, proj array<double>"
    )


def pca_variance_check(
    df: DataFrame,
    vec_col: str = "embedding",
    micro: int = MICRO,
    tol: float = 1e-8,
) -> DataFrame:
    """Per-dimension sample variance table ``(dim, n, dim_var)`` with
    the PCA invariants VERIFIED inline: the eigendecomposition of the
    exact covariance must (a) be orthonormal (``C C^T = I`` within
    ``tol``) and (b) conserve total variance (``sum(eigvals) ==
    trace(cov)`` within ``tol * trace`` — the rotation invariant), or
    the call raises. The returned variances are computed from the same
    exact integer moments with one float64 division sequence, so they
    hash-match :func:`pca_variance_sql` — the oracle pins the moment
    plumbing while the inline asserts pin the eigensolve against it.

    Driver-side by construction: the only collected object is the
    d(d+3)/2-row moment aggregate (one Spark job; bounded by the
    vector width, never the corpus).
    """
    import numpy as np

    model_n, S, P = _collect_moments(df, vec_col, micro)
    d = len(S)
    s = 10**micro
    cov = np.empty((d, d), dtype=np.float64)
    var = []
    for i in range(d):
        for j in range(i, d):
            num = model_n * P[i][j] - S[i] * S[j]
            cov[i, j] = cov[j, i] = float(num) / (
                float(s) * float(s) * float(model_n) * float(model_n - 1)
            )
        var.append(cov[i, i])
    vals, vecs = np.linalg.eigh(cov)
    ortho = np.abs(vecs @ vecs.T - np.eye(d)).max()
    if ortho > tol:
        raise AssertionError(f"PCA basis not orthonormal: max dev {ortho}")
    trace = float(np.trace(cov))
    drift = abs(float(vals.sum()) - trace)
    if drift > tol * max(1.0, abs(trace)):
        raise AssertionError(
            f"eigenvalue sum {vals.sum()} != covariance trace {trace}"
        )
    spark = df.sparkSession
    return local_frame(
        spark,
        [(i + 1, model_n, float(var[i])) for i in range(d)],
        "dim int, n long, dim_var double",
    ).orderBy("dim")


def pca_variance_sql(
    table: str, vec_col: str = "embedding", micro: int = MICRO
) -> str:
    """DuckDB twin of :func:`pca_variance_check`'s output: per-dim
    sample variance from the same exact integer moments and the same
    float64 division order (``float(n*ss - s*s) / (scale^2 * n *
    (n-1))`` — one cast, two multiplies, one divide on both sides)."""
    s = 10**micro
    return f"""
    WITH __e AS (
      SELECT generate_subscripts({vec_col}, 1)::INT AS dim,
             ROUND(unnest({vec_col})::DOUBLE * {s})::BIGINT AS qv
      FROM {table}
    )
    SELECT dim, COUNT(*)::BIGINT AS n,
           CAST(COUNT(*) * SUM(qv::DECIMAL(38,0) * qv)
                - SUM(qv::DECIMAL(38,0)) * SUM(qv::DECIMAL(38,0)) AS DOUBLE)
             / ({float(s)} * {float(s)} * COUNT(*) * (COUNT(*) - 1)) AS dim_var
    FROM __e GROUP BY dim ORDER BY dim
    """


def mean_pool(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    micro: int = MICRO,
) -> DataFrame:
    """Per-group embedding centroid (mean pooling), long form:
    ``(group_cols..., dim, n, centroid)`` — the grouped reduction
    behind class/domain centroids, cluster re-estimation (the Lloyd
    M-step), per-source drift monitors, and bag-of-docs profile
    vectors over a 100 TB corpus.

    Scale shape: ``posexplode`` multiplies rows by the vector width,
    but the partial hash aggregate sits in the SAME stage keyed on
    ``(group, dim)``, so the shuffle carries only
    ``n_groups x dim x n_partitions`` partial rows — the vectors never
    shuffle and nothing is collected. Pure codegen; no Python. Same
    under-parallel guard as :func:`..similarity.dim_stats` (a one-file
    scan would serialize the xdim explode on one core).

    Numerics are the repo's cross-engine convention: components
    quantized half-up to ``10^micro`` integer units, exact
    DECIMAL(38,0) sums, one half-up integer division for the mean
    (ties toward +inf — ``floor((2s+n)/2n)``, shared with
    ``dim_stats`` / ``gram_matrix``), so the result is partitioning-
    and engine-independent: it hash-matches :func:`mean_pool_sql`.

    No reference twin (SURVEY.md section 2 has no vector surface) —
    LLM-pipeline extension.
    """
    s = 10**micro
    from .similarity import _spread_for_explode

    df = _spread_for_explode(df)
    keys = [F.col(c) for c in group_cols]
    exploded = df.select(
        *keys, F.posexplode(vec_col).alias("pos", "__v")
    ).select(
        *group_cols,
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("__v").cast("double") * s, 0).cast("long").alias("q"),
    )
    g = exploded.groupBy(*group_cols, "dim").agg(
        F.count(F.lit(1)).alias("n"),
        # limb-split exact sum (aggregate.limb_sum): primitive-long
        # partials instead of a per-row decimal cast, same exact total
        limb_sum(F.col("q")).alias("__s"),
    )
    nn = F.col("n").cast("decimal(38,0)")
    x = F.col("__s") * 2 + nn  # half-up division: floor((2s + n) / 2n)
    y = nn * 2
    mean_micro = (x - F.pmod(x, y)) / y
    return g.select(
        *group_cols,
        "dim",
        "n",
        (
            mean_micro.cast("decimal(38,0)").cast("double") / F.lit(float(s))
        ).alias("centroid"),
    ).orderBy(*group_cols, "dim")


def mean_pool_sql(
    table: str,
    group_cols: list[str],
    vec_col: str = "embedding",
    micro: int = MICRO,
) -> str:
    """DuckDB twin of :func:`mean_pool` — identical quantization,
    DECIMAL(38,0) sums, and half-up mean division
    (``generate_subscripts`` is 1-based, matching ``pos + 1``)."""
    s = 10**micro
    gc = ", ".join(group_cols)
    fdiv = (
        "((x - (((x) % (y) + (y)) % (y))) // (y))"
        .replace("x", "(2 * __s + n)")
        .replace("y", "(2 * n)")
    )
    return f"""
    WITH __e AS (
      SELECT {gc},
             generate_subscripts({vec_col}, 1)::BIGINT AS dim,
             ROUND(unnest({vec_col})::DOUBLE * {s})::BIGINT AS qv
      FROM {table}
    ), __g AS (
      SELECT {gc}, dim, COUNT(*)::BIGINT AS n,
             SUM(qv)::DECIMAL(38,0) AS __s
      FROM __e GROUP BY ALL
    )
    SELECT {gc}, dim, n,
           CAST({fdiv} AS DOUBLE) / {s}.0 AS centroid
    FROM __g ORDER BY {gc}, dim
    """


def kmeans_step(
    corpus: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
    micro: int = MICRO,
) -> DataFrame:
    """One exact, relational Lloyd iteration over the corpus, FUSED:
    a single ``mapInPandas`` pass assigns each vector to its nearest
    centroid (one BLAS matmul per Arrow batch — the
    :func:`..similarity.ivf_assignments_blocked` kernel, ties ->
    smallest centroid id via the cid-sorted bank) AND accumulates the
    per-cell quantized component sums in the same batch loop, so the
    shuffle carries only ``k x dim x n_partitions`` partial rows — the
    vectors never move, not even for assignment. The final reduce is
    the :func:`mean_pool` arithmetic: exact DECIMAL(38,0) sums of
    half-up ``10^micro`` integer components, one half-up integer
    division per (cell, dim).

    Returns the re-estimated centroid table ``(cell, dim, n,
    centroid)`` in long form; cells that captured no vectors emit no
    rows (the standard Lloyd empty-cell case — callers keep the old
    centroid or re-seed). For spherical k-means (the geometry the IVF
    family partitions by) L2-normalize first
    (:func:`..similarity.normalize_embeddings`).

    MLlib ``KMeans`` (:func:`..similarity.train_ivf_centroids`)
    remains the production trainer; this step exists because MLlib's
    training loop is not SQL-expressible — one exact integer-mean
    iteration IS, so the clustering arithmetic (assignment tie rules,
    grouped means) gets a bit-exact cross-engine differential the
    black-box trainer can't give. Assignment scores are one matmul,
    so they can differ from the sequential fold in the last ulps — a
    vector exactly equidistant between centroids could in principle
    assign differently (same caveat class as the other blocked
    engines; parity with the interpreted form is pinned in tests).
    """
    import numpy as np
    import pandas as pd

    s = 10**micro
    order = sorted(range(len(centroids)), key=lambda i: centroids[i][0])
    cids = [int(centroids[i][0]) for i in order]
    bank = [[float(x) for x in centroids[i][1]] for i in order]

    src = corpus.select(vec_col)
    # under-parallel toy scan (single parquet file): spread BEFORE the
    # kernel so assignment + partials use every core — unless the
    # corpus is small enough that one core beats the shuffle (size
    # gate); never fires on production scan sizes
    from .similarity import _spread_for_explode

    src = _spread_for_explode(src)

    def partials(batches):
        cm = np.array(bank, dtype=np.float64)
        cn = np.linalg.norm(cm, axis=1)
        cn[cn == 0] = 1.0
        cmn = (cm / cn[:, None]).T  # d x k, norm-scaled
        ids = np.asarray(cids)
        counts = None
        sums = None
        d = None
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(list(pdf[vec_col]), dtype=np.float64)
            if d is None:
                d = vm.shape[1]
                counts = np.zeros(len(ids), dtype=np.int64)
                sums = np.zeros((len(ids), d), dtype=object)
            sel = np.argmax(vm @ cmn, axis=1)  # first max => smallest cid
            Q = _round0_np(vm * s)
            for c in np.unique(sel):
                mask = sel == c
                counts[c] += int(mask.sum())
                # int64 per-batch column sum (batch * max|q| << 2^63),
                # object accumulation across batches (unbounded-exact)
                sums[c] += Q[mask].sum(axis=0, dtype=np.int64).astype(object)
        if d is None:
            return
        dec = decimal.Decimal
        cell_o, dim_o, n_o, s_o = [], [], [], []
        for c in range(len(ids)):
            if counts[c] == 0:
                continue
            for j in range(d):
                cell_o.append(int(ids[c]))
                dim_o.append(j + 1)
                n_o.append(int(counts[c]))
                s_o.append(dec(int(sums[c][j])))
        yield pd.DataFrame(
            {"cell": cell_o, "dim": dim_o, "n": n_o, "s": s_o}
        )

    g = src.mapInPandas(
        partials, schema="cell int, dim long, n long, s decimal(38,0)"
    ).groupBy("cell", "dim").agg(
        F.sum("n").alias("n"), F.sum("s").alias("__s")
    )
    nn = F.col("n").cast("decimal(38,0)")
    x = F.col("__s") * 2 + nn  # half-up division: floor((2s + n) / 2n)
    y = nn * 2
    mean_micro = (x - F.pmod(x, y)) / y
    return g.select(
        "cell",
        "dim",
        "n",
        (
            mean_micro.cast("decimal(38,0)").cast("double") / F.lit(float(s))
        ).alias("centroid"),
    ).orderBy("cell", "dim")


def kmeans_step_sql(
    table: str,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    micro: int = MICRO,
) -> str:
    """DuckDB twin of :func:`kmeans_step` seeded with the first
    ``n_centroids`` corpus vectors as centroids (the deterministic
    seeding convention shared with ``ivf_topk_sql`` /
    ``semantic_dedup_sql``, so both engines rebuild identical cells);
    assignment argmin replicates ``ivf_assignments``' neg_score/tie
    ordering, then the mean-pool twin runs over the assigned rows."""
    from .similarity import dot_sql

    assigned = f"""(
    WITH __cent AS (
        SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table}
        WHERE {id_col} < {n_centroids}
    )
    SELECT (SELECT c.cid FROM __cent c
            ORDER BY -({dot_sql(f'e.{vec_col}', 'c.cvec')}
                       / sqrt({dot_sql('c.cvec', 'c.cvec')})) ASC,
                     c.cid ASC
            LIMIT 1) AS cell,
           e.{vec_col}
    FROM {table} e
    ) __asn"""
    return mean_pool_sql(assigned, ["cell"], vec_col, micro)
