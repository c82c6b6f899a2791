"""Driver-held rows enter Spark through Arrow.

``session.local_frame`` turns rows the driver already holds into a
DataFrame from a ``pyarrow.Table``; the JVM builds that relation
itself. ``createDataFrame(<python rows>)`` pickles the rows through a
Python ``map`` (``SparkSession._createFromLocal``), which forks a Python
worker on the first action. The guard below keeps the package off that
path, and the path test runs every converted call site with it made to
raise.
"""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tests.oracle_check import assert_frames_match

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "oracle_duckdb_sync_spark"

_ROW_DISPLAYS = (
    ast.List, ast.Tuple, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp
)


def _pickled_frame_sites(root: str) -> list[str]:
    """``file:line`` of every ``createDataFrame`` call in the package whose
    data argument is a list/tuple display, a comprehension, a generator,
    or a local name its enclosing function binds to one of those."""
    sites = set()
    for dirpath, _dirs, files in os.walk(os.path.join(root, PACKAGE)):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            scopes = [tree] + [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for scope in scopes:
                bound = {
                    t.id
                    for n in ast.walk(scope)
                    if isinstance(n, (ast.Assign, ast.AnnAssign, ast.AugAssign))
                    and isinstance(n.value, _ROW_DISPLAYS)
                    for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
                    if isinstance(t, ast.Name)
                }
                for call in ast.walk(scope):
                    if not (
                        isinstance(call, ast.Call)
                        and getattr(call.func, "attr", getattr(call.func, "id", None))
                        == "createDataFrame"
                    ):
                        continue
                    data = call.args[0] if call.args else next(
                        (k.value for k in call.keywords if k.arg == "data"), None
                    )
                    if isinstance(data, _ROW_DISPLAYS) or (
                        isinstance(data, ast.Name) and data.id in bound
                    ):
                        sites.add(f"{os.path.relpath(path, root)}:{call.lineno}")
    return sorted(sites)


def test_no_createdataframe_over_python_rows():
    """No ``createDataFrame`` in the package takes Python rows (a list,
    tuple, comprehension, generator or a local bound to one), because
    those are pickled through a Python worker that must start first and
    serialises every row; build the frame with ``session.local_frame``."""
    assert _pickled_frame_sites(ROOT) == []


def test_local_frame_matches_pickled_rows(spark):
    """The Arrow-built frame holds exactly the rows and schema the
    pickled path builds, naive TIMESTAMPs (driver-local time) and
    TIMESTAMP_NTZ wall clocks included."""
    from oracle_duckdb_sync_spark.session import local_frame

    schema = (
        "ts timestamp, ntz timestamp_ntz, amount decimal(18,2), day date, "
        "raw binary, tags array<string>, counts map<string,bigint>, "
        "pt struct<x:int,y:string>, flag boolean, small smallint"
    )
    rows = [
        (
            dt.datetime(2024, 3, 10, 2, 30, 5, 123456),
            dt.datetime(2024, 11, 3, 1, 30),
            decimal.Decimal("12345.67"),
            dt.date(1999, 12, 31),
            b"\x00\xff",
            ["a", None],
            {"k": 1},
            (3, "c"),
            True,
            -7,
        ),
        (None,) * 10,
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert local_frame(spark, [], schema).schema == want.schema


def test_create_table_keeps_declared_schema(spark, tmp_path):
    """``create_table``'s empty write carries every column type Parquet
    stores through the Arrow schema, and the table reads back with the
    declared schema."""
    from pyspark.sql.types import DataType

    from oracle_duckdb_sync_spark.config import EngineConfig
    from oracle_duckdb_sync_spark.sources.catalog import Catalog

    schema = DataType.fromDDL(
        "id bigint, ts timestamp, ntz timestamp_ntz, amount decimal(18,2), "
        "day date, raw binary, tags array<string>, counts map<string,bigint>, "
        "pt struct<x:int,y:string>"
    )
    cat = Catalog(spark, EngineConfig(warehouse_dir=str(tmp_path)))
    cat.create_table("typed", schema)
    back = spark.read.parquet(cat.table_path("typed"))
    assert back.schema == schema
    assert back.count() == 0


def test_converted_sites_never_pickle_rows(spark, duck, sf_dir, tmp_path, monkeypatch):
    """Every site that builds a frame from driver-held rows returns its
    usual result with the pickled-rows path made to raise."""
    from oracle_duckdb_sync_spark.config import EngineConfig
    from oracle_duckdb_sync_spark.operators import classifier as CL
    from oracle_duckdb_sync_spark.operators import layout as L
    from oracle_duckdb_sync_spark.operators import linalg as LA
    from oracle_duckdb_sync_spark.operators import similarity as SIM
    from oracle_duckdb_sync_spark.operators.pipeline import prepare_corpus
    from oracle_duckdb_sync_spark.sources import sinks
    from oracle_duckdb_sync_spark.sources.catalog import Catalog

    def refuse(*_a, **_k):
        raise AssertionError("rows were pickled through a Python worker")

    monkeypatch.setattr(SparkSession, "_createFromLocal", refuse)

    # prepare_corpus, classifier configuration: the funnel's stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = CL.train_nb_classifier(docs.withColumn("label", F.col("lang") == "en"))
    corpus, stats = prepare_corpus(
        docs, min_quality=0.25, jaccard_threshold=0.35, num_perm=32,
        shingle_k=2, bands=8, classifier_model=model,
    )
    assert stats.schema.simpleString() == "struct<stage:string,rows:bigint>"
    assert [tuple(r) for r in stats.orderBy("stage").collect()] == [
        ("classifier_gated", 195), ("exact_deduped", 500), ("input", 500),
        ("neardup_deduped", 476), ("quality_gated", 500),
    ]
    assert corpus.count() == 195

    # Catalog.create_table
    cat = Catalog(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    cat.create_table("t", docs.schema)
    assert cat.table("t").schema == docs.schema and cat.row_count("t") == 0

    # pca_variance_check
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert_frames_match(
        LA.pca_variance_check(emb).toPandas(),
        duck.execute(LA.pca_variance_sql("embeddings")).df(),
        "pca_variance",
    )

    # the empty-input branches of knn_join_blocked and semantic_decontaminate
    vecs = spark.range(3).selectExpr("cast(id as int) vec_id", "array(1d, 0d) embedding")
    queries = vecs.selectExpr("vec_id q_id", "embedding").filter(F.lit(False))
    knn = SIM.knn_join_blocked(queries, vecs, 2)
    assert knn.dtypes == [("q_id", "int"), ("vec_id", "int"), ("cosine", "double")]
    assert knn.count() == 0
    bank = vecs.selectExpr("cast(vec_id as bigint) bench_id", "embedding").filter(
        F.lit(False)
    )
    dec = SIM.semantic_decontaminate(vecs, bank, threshold=0.5)
    assert dec.dtypes == [("vec_id", "int"), ("bench_id", "bigint"), ("cosine", "double")]
    assert dec.count() == 0

    # stats_manifest over no files, then over some
    empty_dir = tmp_path / "nofiles"
    empty_dir.mkdir()
    none = L.stats_manifest(spark, str(empty_dir), ["v"])
    assert none.columns == ["file", "n_rows", "v_min", "v_max", "v_nulls"]
    assert none.count() == 0
    spark.range(40).selectExpr("cast(id as double) v").repartition(3).write.parquet(
        str(tmp_path / "files")
    )
    m = L.stats_manifest(spark, str(tmp_path / "files"), ["v"]).collect()
    assert len(m) == 3 and sum(r.n_rows for r in m) == 40
    assert min(r.v_min for r in m) == 0.0 and max(r.v_max for r in m) == 39.0

    # a partitioned upsert touching more partitions than the literal scope
    n_parts = sinks._SCOPE_LITERAL_MAX + 16
    path = str(tmp_path / "parts")
    spark.range(n_parts * 2).selectExpr(
        "id", f"concat('d', lpad(cast(id % {n_parts} as string), 3, '0')) AS day",
        "id * 10 AS v",
    ).write.partitionBy("day").parquet(path)
    # every partition but day=d000 gets one changed key and one new key
    new = spark.range(1, n_parts).selectExpr(
        "id", "concat('d', lpad(cast(id as string), 3, '0')) AS day", "-id AS v"
    ).unionByName(spark.range(1, n_parts).selectExpr(
        f"id + {2 * n_parts} AS id",
        "concat('d', lpad(cast(id as string), 3, '0')) AS day", "7 AS v",
    ))
    sinks.upsert(spark, new, path, ["id"], partition_cols=["day"])
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    want = {i: i * 10 for i in range(n_parts * 2)}
    want.update({i: -i for i in range(1, n_parts)})
    want.update({i + 2 * n_parts: 7 for i in range(1, n_parts)})
    assert got == want
