"""Hashed-feature text classifier (fastText-shape quality gate,
training-data extension).

The CCNet / LLaMA / GPT-3 data pipelines gate documents with a linear
classifier over hashed bag-of-ngram features (fastText): featurize ->
look up per-bucket weights -> sum -> threshold. Relationally that is
exactly two primitives — a bounded-cardinality groupBy (training) and
a broadcast equi-join + per-document sum (scoring) — so the whole
classifier runs as Spark codegen with zero Python in the hot path.

- **Featurize** (:func:`_feature_stream`): lower-cased unigram +
  bigram occurrences, hashed into ``n_buckets`` via the repo's
  engine-portable md5 hash (the hashing trick: collisions share a
  weight, the model table is bounded by construction).
- **Train** (:func:`train_nb_classifier`): multinomial Naive Bayes
  log-odds per bucket, ``w = ln((pos_b+1)/(N_pos+B)) -
  ln((neg_b+1)/(N_neg+B))`` — ONE groupBy over the exploded labeled
  set (cardinality <= n_buckets, partial-aggregated map-side). NB
  log-odds is the closed-form linear model — no iterations, no driver
  loops — the standard stand-in for fastText when training must be a
  relational pass.
- **Calibrate** (inside train): raw NB scores carry a systematic
  per-feature bias whenever the class feature masses differ
  (``ln(N_pos/N_neg) + ln((N_neg+B)/(N_pos+B))`` per feature —
  textbook multinomial-NB miscalibration, amplified by document
  length). The production fix is a calibrated decision threshold:
  training re-scores the labeled set with the fitted weights (second
  relational pass, still no iteration) and stores the midpoint of the
  per-class mean LENGTH-NORMALIZED scores as ``thr6``. Prediction is
  ``norm6 >= thr6`` — length-invariant and centered.
- **Score** (:func:`nb_classifier_score`): read the model ONCE (at
  most ``n_buckets`` rows, one ``toArrow()``), then explode -> LEFT
  broadcast join against that driver-local ``(bucket, w6)`` table ->
  per-document BIGINT sum, with the model's totals, prior and threshold
  as literals — the Spark NB shape of *Large Scale Sentiment Analysis
  on Twitter with Spark* (EDBT 2016). A lazily trained model's plan
  runs once, at that read, not once per consumer of the scores. Unseen
  buckets fall back to the smoothed floor via COALESCE, so NEW
  documents score against a persisted model with no training-corpus
  access (same persisted-model convention as the MinHash store / IVF
  index).

Cross-engine exactness: weights, scores, normalized scores, and the
threshold are integer MICRONATS (ln * 1e6 rounded, the :mod:`lm`
convention) with half-up integer division for every mean — exact
BIGINT/DECIMAL arithmetic end to end, order- and
partitioning-independent, hash-stable against the DuckDB twins.

The reference has no classifier surface (SURVEY.md section 2); this
module exists for the LLM-pipeline mandate (model-based quality
filtering next to the heuristic gate in ``functions/text.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash31_expr, hash31_sql, tokens_expr, tokens_sql

NAT_SCALE = 1_000_000  # micronats, the lm.py convention
N_BUCKETS = 4096


# ------------------------------------------------------------- features


def _feature_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bigrams: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(__id, feat)`` — one row per feature OCCURRENCE: every
    unigram, plus (optionally) every ``"w1 w2"`` bigram. One explode
    over the token index range; both grams come out of the SAME
    exploded stream (no second scan, no union of two explodes).
    ``carry`` names extra input columns replicated onto every feature
    row (training rides the label through the explode this way).

    Input guarded by :func:`dedup._parallel`: a small single-file
    corpus scans as 1 partition, which would serialize the whole
    tokenize+explode+hash stream — the dominant cost of training AND
    scoring — onto one core (measured 4× on the 32-core bench); the
    guard never fires on production scan sizes."""
    from .dedup import _parallel

    df = _parallel(df)
    extra = [F.col(c) for c in carry]
    base = df.select(
        F.col(id_col).alias("__id"),
        tokens_expr(F.col(text_col)).alias("__t"),
        *extra,
    ).select(
        "__id",
        F.explode(F.expr("sequence(0, size(__t) - 1)")).alias("__i"),
        "__t",
        *carry,
    )
    uni = F.expr("__t[__i]")
    if not bigrams:
        return base.select("__id", uni.alias("feat"), *carry)
    big = F.concat(uni, F.lit(" "), F.expr("__t[__i + 1]"))
    return base.select(
        "__id",
        F.explode(
            F.when(
                F.col("__i") < F.size("__t") - 1, F.array(uni, big)
            ).otherwise(F.array(uni))
        ).alias("feat"),
        *carry,
    )


def _feature_stream_sql(
    table: str, id_col: str, text_col: str, bigrams: bool = True
) -> str:
    """DuckDB twin of :func:`_feature_stream` (same tokens, same
    bigram join with a single space)."""
    toks = tokens_sql(text_col)
    base = f"""(
      SELECT {id_col} AS __id, t, unnest(range(0, len(t))) AS i
      FROM (SELECT {id_col}, {toks} AS t FROM {table}) __f0
    )"""
    if not bigrams:
        return f"(SELECT __id, t[i + 1] AS feat FROM {base} __f1)"
    return f"""(
      SELECT __id, unnest(
        CASE WHEN i < len(t) - 1
             THEN [t[i + 1], t[i + 1] || ' ' || t[i + 2]]
             ELSE [t[i + 1]] END) AS feat
      FROM {base} __f1
    )"""


def bucket_expr(feat, n_buckets: int = N_BUCKETS):
    """Feature -> bucket id via the engine-portable md5-31 hash."""
    return F.pmod(hash31_expr(feat), F.lit(n_buckets))


def bucket_sql(feat: str, n_buckets: int = N_BUCKETS) -> str:
    return f"({hash31_sql(feat)} % {n_buckets})"


# ------------------------------------------------- exact integer means


def _hud(num: Column, den: Column) -> Column:
    """Half-up integer division ``round(num/den)`` with ties toward
    +inf — ``floor((2*num + den) / (2*den))``, the repo's shared
    convention (``dim_stats``; exact for negative numerators too)."""
    x = num.cast("decimal(38,0)") * 2 + den.cast("decimal(38,0)")
    y = den.cast("decimal(38,0)") * 2
    return ((x - F.pmod(x, y)) / y).cast("decimal(38,0)").cast("long")


def _hud_sql(num: str, den: str) -> str:
    x = f"(2 * ({num}) + ({den}))"
    y = f"(2 * ({den}))"
    return f"((({x}) - ((({x}) % ({y}) + ({y})) % ({y}))) // ({y}))::BIGINT"


# -------------------------------------------------------------- weights


def _prior6(n_pos_docs: int, n_neg_docs: int) -> Column:
    """The class prior ``ln(N_pos/N_neg)`` in micronats, a literal:
    the document counts are known on the driver before training runs."""
    return F.round(
        F.log(F.lit(n_pos_docs).cast("double") / F.lit(n_neg_docs).cast("double"))
        * F.lit(NAT_SCALE)
    ).cast("long")


def _nb_weights(
    bucketed: DataFrame,
    n_buckets: int,
    prior6: Column,
) -> tuple[DataFrame, DataFrame]:
    """Fitted weight table ``(bucket, n_pos, n_neg, w6, tot_pos,
    tot_neg, prior6)`` and its one-row totals ``(tot_pos, tot_neg)``
    from a ``(__id, __lab, bucket)`` feature-bucket stream (the label
    rides through the explode as a carried column, so training never
    re-joins the exploded stream against the labels). ``prior6`` is
    the literal of :func:`_prior6`."""
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("__lab"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("__lab"), 0).otherwise(1)).cast("long").alias("n_neg"),
    )
    totals = counts.agg(
        F.sum("n_pos").cast("long").alias("tot_pos"),
        F.sum("n_neg").cast("long").alias("tot_neg"),
    )
    b = F.lit(n_buckets).cast("double")
    w6 = F.round(
        (
            F.log((F.col("n_pos") + 1).cast("double") / (F.col("tot_pos") + b))
            - F.log((F.col("n_neg") + 1).cast("double") / (F.col("tot_neg") + b))
        )
        * F.lit(NAT_SCALE)
    ).cast("long")
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_pos",
        "n_neg",
        w6.alias("w6"),
        "tot_pos",
        "tot_neg",
        prior6.alias("prior6"),
    )
    return weights, totals


def _nb_weights_sql(
    table: str, id_col: str, text_col: str, label_col: str,
    n_buckets: int, bigrams: bool,
) -> str:
    fs = _feature_stream_sql(table, id_col, text_col, bigrams)
    return f"""(
    WITH __lab AS (
      SELECT {id_col} AS __id, {label_col}::BOOLEAN AS lab FROM {table}
    ), __fs AS (
      SELECT f.__id, f.feat, l.lab
      FROM {fs} f JOIN __lab l USING (__id)
    ), __c AS (
      SELECT {bucket_sql('feat', n_buckets)} AS bucket,
             SUM(CASE WHEN lab THEN 1 ELSE 0 END)::BIGINT AS n_pos,
             SUM(CASE WHEN lab THEN 0 ELSE 1 END)::BIGINT AS n_neg
      FROM __fs GROUP BY 1
    ), __t AS (
      SELECT SUM(n_pos)::BIGINT AS tot_pos, SUM(n_neg)::BIGINT AS tot_neg
      FROM __c
    ), __d AS (
      SELECT SUM(CASE WHEN lab THEN 1 ELSE 0 END)::BIGINT AS __dp,
             SUM(CASE WHEN lab THEN 0 ELSE 1 END)::BIGINT AS __dn
      FROM __lab
    )
    SELECT bucket, n_pos, n_neg,
           CAST(ROUND((ln((n_pos + 1)::DOUBLE / (tot_pos + {n_buckets}.0))
                       - ln((n_neg + 1)::DOUBLE / (tot_neg + {n_buckets}.0)))
                      * {NAT_SCALE}) AS BIGINT) AS w6,
           tot_pos, tot_neg,
           CAST(ROUND(ln(__dp::DOUBLE / __dn::DOUBLE) * {NAT_SCALE})
                AS BIGINT) AS prior6
    FROM __c CROSS JOIN __t CROSS JOIN __d
    )"""


# -------------------------------------------------------------- scoring


def _scores_from_buckets(
    bucketed: DataFrame,
    weights: DataFrame,
    meta: tuple[Column, Column, Column],
    n_buckets: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(__id, *carry, n_feats, score6, norm6)`` from a
    ``(__id, *carry, bucket)`` stream against a ``(bucket, w6)`` weight
    table — the shared scoring aggregate (broadcast join + one
    partial-aggregated groupBy on the document id; ``carry`` columns are
    functionally dependent on ``__id`` and ride the group key so
    calibration never re-joins the labels). ``meta`` is the model's
    ``(tot_pos, tot_neg, prior6)``: all literals when scoring a read
    model; in training ``prior6`` is a literal and the totals are
    columns of ``bucketed`` (a broadcast totals row). ``norm6`` is the
    length-normalized score (exact half-up micronats/feature)."""
    tot_pos, tot_neg, prior6 = meta
    b = F.lit(n_buckets).cast("double")
    unseen6 = F.round(
        (F.log(F.lit(1.0) / (tot_pos + b)) - F.log(F.lit(1.0) / (tot_neg + b)))
        * F.lit(NAT_SCALE)
    ).cast("long")
    scored = (
        bucketed.join(F.broadcast(weights.select("bucket", "w6")), "bucket", "left")
        .select(
            "__id",
            *carry,
            F.coalesce(F.col("w6"), unseen6).alias("__w"),
        )
        .groupBy("__id", *carry)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            (F.sum("__w") + prior6).alias("score6"),
        )
    )
    return scored.select(
        "__id",
        *carry,
        "n_feats",
        "score6",
        _hud(F.col("score6"), F.col("n_feats")).alias("norm6"),
    )


def _raw_scores_sql(
    table: str, model_sql: str, id_col: str, text_col: str,
    n_buckets: int, bigrams: bool,
) -> str:
    fs = _feature_stream_sql(table, id_col, text_col, bigrams)
    return f"""(
    WITH __model AS (SELECT * FROM {model_sql} __m),
    __meta AS (
      SELECT MAX(tot_pos) AS tot_pos, MAX(tot_neg) AS tot_neg,
             MAX(prior6) AS prior6
      FROM __model
    ),
    __sc AS (
      SELECT f.__id,
             COALESCE(mo.w6,
               CAST(ROUND((ln(1.0 / (me.tot_pos + {n_buckets}.0))
                           - ln(1.0 / (me.tot_neg + {n_buckets}.0)))
                          * {NAT_SCALE}) AS BIGINT)) AS w,
             me.prior6
      FROM (SELECT __id, {bucket_sql('feat', n_buckets)} AS bucket
            FROM {fs} __f) f
      LEFT JOIN __model mo USING (bucket)
      CROSS JOIN __meta me
    ), __agg AS (
      SELECT __id, COUNT(*)::BIGINT AS n_feats,
             (SUM(w) + MAX(prior6))::BIGINT AS score6
      FROM __sc GROUP BY 1
    )
    SELECT __id, n_feats, score6,
           {_hud_sql('score6', 'n_feats')} AS norm6
    FROM __agg
    )"""


# --------------------------------------------------------------- public


def train_nb_classifier(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = N_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """Train the hashed NB log-odds model + calibrated threshold —
    ``(bucket, n_pos, n_neg, w6, tot_pos, tot_neg, prior6, thr6)``;
    ``label_col`` is boolean.

    Two relational passes, no iteration: (1) the bounded groupBy that
    fits the weights; (2) a re-score of the labeled set to calibrate
    ``thr6`` = half-up midpoint of the two class means of the
    length-normalized score (raw multinomial-NB scores are biased by
    class-mass imbalance — see module docstring — so thresholding at
    zero misclassifies; the midpoint rule is the closed-form
    calibration). All constants replicate onto every row so the model
    persists as ONE parquet table and scoring needs no side channel.

    Raises ``ValueError`` when the labeled set contains only one
    class: the prior ``ln(N_pos/N_neg)`` is undefined there, and the
    engines would diverge silently (Spark casts ±Infinity to a garbage
    BIGINT while the DuckDB twin errors on the CAST).

    Training featurizes the labeled set ONCE: the weight groupBy and
    the calibration re-score are two consumers of the same
    ``(__id, __lab, bucket)`` stream, so it is lazily
    localCheckpoint-pinned (the retrieval-df convention) — unpinned,
    each consumer re-runs the tokenize + md5-bucket scan that
    dominates training cost. The pin is bounded by construction:
    classifiers train on a labeled REFERENCE set (the LLaMA recipe
    trains on Wikipedia-linked positives), not on the corpus being
    filtered — the unbounded corpus pass is scoring, which stays
    streaming (:func:`nb_classifier_score` never pins). Note the pinned stream
    scales with the labeled set's TOTAL TOKEN COUNT (≈2 rows per token
    with bigrams on), not its document count — a caller whose labeled
    set outgrows memory+disk of the executors should sample it, not
    raise the pin's storage level.

    Precondition: ``id_col`` must be unique and non-null within
    ``labeled``. Calibration aggregates the carried-label stream by
    (id, label), which emits ONE calibration row per distinct id —
    whereas the DuckDB twin re-joins labels by id, duplicating scored
    rows for duplicate ids and dropping NULL ids. The engines agree
    exactly on well-formed labeled sets (unique, non-null ids — the
    only shape a labeled reference set legitimately has) and the
    differential oracle runs on one; duplicate or NULL ids shift
    ``thr6`` between engines rather than erroring, so callers with
    unaudited labels should ``dropDuplicates(id)``/filter first.
    """
    cls = labeled.agg(
        F.sum(
            F.when(F.col(label_col).cast("boolean"), 1).otherwise(0)
        ).alias("__dp"),
        F.sum(
            F.when(F.col(label_col).cast("boolean"), 0).otherwise(1)
        ).alias("__dn"),
    ).first()
    if not cls["__dp"] or not cls["__dn"]:
        raise ValueError(
            "train_nb_classifier needs both classes present in "
            f"{label_col!r}: got {cls['__dp'] or 0} positive / "
            f"{cls['__dn'] or 0} negative documents"
        )
    bucketed = (
        _feature_stream(
            labeled.select(
                F.col(id_col),
                F.col(text_col),
                F.col(label_col).cast("boolean").alias("__lab"),
            ),
            id_col,
            text_col,
            bigrams,
            carry=("__lab",),
        )
        .select(
            "__id",
            "__lab",
            bucket_expr(F.col("feat"), n_buckets).alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    prior6 = _prior6(int(cls["__dp"]), int(cls["__dn"]))
    w, totals = _nb_weights(bucketed, n_buckets, prior6)
    scored = _scores_from_buckets(
        bucketed.crossJoin(F.broadcast(totals)),
        w,
        (F.col("tot_pos"), F.col("tot_neg"), prior6),
        n_buckets,
        carry=("__lab",),
    )
    means = scored.groupBy("__lab").agg(
        _hud(F.sum("norm6"), F.count(F.lit(1))).alias("m6")
    )
    thr = means.agg(
        _hud(F.sum("m6"), F.count(F.lit(1))).alias("thr6")
    )
    return w.crossJoin(F.broadcast(thr))


def train_nb_classifier_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = N_BUCKETS,
    bigrams: bool = True,
) -> str:
    """DuckDB twin of :func:`train_nb_classifier` (identical micronat
    rounding and half-up means; ROUND yields an integral double on
    both engines so the BIGINT cast is exact)."""
    w = _nb_weights_sql(table, id_col, text_col, label_col, n_buckets, bigrams)
    raw = _raw_scores_sql(table, w, id_col, text_col, n_buckets, bigrams)
    return f"""(
    WITH __w AS (SELECT * FROM {w} __w0),
    __scored AS (
      SELECT r.*, l.{label_col}::BOOLEAN AS lab
      FROM {raw} r
      JOIN (SELECT {id_col} AS __id, {label_col} FROM {table}) l USING (__id)
    ), __means AS (
      SELECT lab, {_hud_sql('SUM(norm6)', 'COUNT(*)')} AS m6
      FROM __scored GROUP BY lab
    ), __thr AS (
      SELECT {_hud_sql('SUM(m6)', 'COUNT(*)')} AS thr6 FROM __means
    )
    SELECT __w.*, __thr.thr6 FROM __w CROSS JOIN __thr
    )"""


def nb_classifier_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """Score documents against a trained/persisted model —
    ``(id_col, n_feats, score6, norm6, pred)`` with ``score6`` the
    exact BIGINT micronat log-odds (prior + per-feature weights),
    ``norm6`` its per-feature mean, and ``pred = norm6 >= thr6``
    (the model's calibrated threshold).

    Shape: the model is read ONCE, at this call — at most
    ``n_buckets`` rows through one ``toArrow()`` — and documents score
    against that driver-local ``(bucket, w6)`` table: explode -> LEFT
    broadcast join on the bucket -> one partial-aggregated groupBy on
    the document id, with the model's ``tot_pos``, ``tot_neg``,
    ``prior6`` and ``thr6`` as literals. A lazily trained model (the
    plan :func:`train_nb_classifier` returns) therefore runs its
    training jobs once here, however many actions the result sees; a
    persisted model costs one read. Unseen buckets COALESCE to the
    add-one floor computed from the model's carried totals, so scoring
    never touches the training corpus. ``n_buckets`` must match the
    value the model was trained with.
    """
    consts = ("tot_pos", "tot_neg", "prior6", "thr6")
    table = model.select("bucket", "w6", *consts).toArrow()
    first = table.slice(0, 1).to_pylist()
    lit = {c: F.lit(first[0][c] if first else None).cast("long") for c in consts}
    weights = docs.sparkSession.createDataFrame(
        table.select(["bucket", "w6"]), schema=model.select("bucket", "w6").schema
    )
    bucketed = _feature_stream(docs, id_col, text_col, bigrams).select(
        "__id", bucket_expr(F.col("feat"), n_buckets).alias("bucket")
    )
    return _scores_from_buckets(
        bucketed, weights, (lit["tot_pos"], lit["tot_neg"], lit["prior6"]), n_buckets
    ).select(
        F.col("__id").alias(id_col),
        "n_feats",
        "score6",
        "norm6",
        (F.col("norm6") >= lit["thr6"]).alias("pred"),
    )


def nb_classifier_score_sql(
    table: str,
    model_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    bigrams: bool = True,
) -> str:
    """DuckDB twin of :func:`nb_classifier_score`."""
    raw = _raw_scores_sql(table, model_sql, id_col, text_col, n_buckets, bigrams)
    return f"""
    WITH __thr AS (SELECT MAX(thr6) AS thr6 FROM {model_sql} __mt)
    SELECT __id AS {id_col}, n_feats, score6, norm6,
           norm6 >= thr6 AS pred
    FROM {raw} __r CROSS JOIN __thr
    """
