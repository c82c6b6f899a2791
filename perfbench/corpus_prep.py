"""The corpus half of the batch workload: the corpus funnel and the
daily-crawl ingest loop.

A round trains the hashed naive-Bayes quality classifier over the fixed
1,000-document corpus (labels ``lang = 'en'``), runs
``prepare_corpus`` with that classifier gate in the registry's
``corpus_prep_funnel_classifier`` configuration, and writes the corpus
to the noop sink and collects its stage counts. It then runs
``ingest_batch`` on a seeded daily batch (documents drawn from the
corpus) against a MinHash store and corpus seeded from the rest of the
corpus.

Stage counts are checked against the registry's DuckDB oracle for the
same configuration; its result for the fixed corpus is stored in
``oracle/funnel_classifier.json`` (``python3 perfbench/oracle.py``
recomputes it), keyed by the corpus's content hash.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from . import checks, inputs
from .layers import median, span_metrics, units

BATCHES = 1
BATCH_DOCS = 250
FUNNEL = dict(min_quality=0.25, jaccard_threshold=0.35, num_perm=32, shingle_k=2, bands=8)
ORACLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle",
                      "funnel_classifier.json")
LAYERS = [
    ("classifier.train", "s"), ("pipeline.prepare_build", "s"),
    ("pipeline.prepare_action", "s"), ("pipeline.ingest", "s"),
]
SPARK_SPANS = ["classifier.train", "pipeline.prepare_build", "pipeline.prepare_action",
               "pipeline.ingest"]
LAYER_UNITS = units(LAYERS, SPARK_SPANS, [("dedup.store_seed_s", "s")])


def funnel_oracle(docs_path: str, duck) -> list[tuple[str, int]]:
    """Stage counts of the registry's DuckDB twin over ``docs_path``."""
    import importlib.util
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    duck.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    return [(s, int(n)) for s, n in
            duck.execute(mod.oracle_sql()["corpus_prep_funnel_classifier"]).fetchall()]


class CorpusPrep:
    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        work = os.path.join(run.work, "corpus")
        self.docs_path = os.path.join(work, "documents")
        self.pristine = os.path.join(work, "pristine")
        self.store_seed_s = 0.0

    # -- inputs ----------------------------------------------------------
    def stage(self) -> None:
        docs = inputs.corpus_documents()
        seed_docs, self.batches = inputs.ingest_split(self.run.rng(0, 0), docs, BATCHES,
                                                      BATCH_DOCS)
        for d in (self.docs_path, self.pristine):
            shutil.rmtree(d, ignore_errors=True)
        inputs.write_table(docs, self.docs_path)
        inputs.write_table(seed_docs, os.path.join(self.pristine, "corpus"))
        self.seed_ids = seed_docs["doc_id"].tolist()
        self.want_stats = self._want_stats(inputs.corpus_hash(docs))

    def _want_stats(self, key: str) -> list[tuple[str, int]]:
        with open(ORACLE) as f:
            stored = json.load(f)
        if stored.get("corpus_sha256") == key:
            return [tuple(r) for r in stored["stats"]]
        print("perfbench: corpus changed; recomputing the funnel oracle in DuckDB")
        return funnel_oracle(f"{self.docs_path}/*.parquet", self.run.duck)

    def seed_store(self) -> None:
        from oracle_duckdb_sync_spark.operators.dedup import save_minhash_store

        t0 = time.perf_counter()
        save_minhash_store(self.spark.read.parquet(os.path.join(self.pristine, "corpus"))
                           .select("doc_id", "text"), os.path.join(self.pristine, "store"))
        self.store_seed_s = time.perf_counter() - t0

    # -- one round -------------------------------------------------------
    def round(self, i: int) -> None:
        from oracle_duckdb_sync_spark.operators.classifier import train_nb_classifier
        from oracle_duckdb_sync_spark.operators.pipeline import ingest_batch, prepare_corpus

        run = self.run
        docs = self.spark.read.parquet(self.docs_path)
        model = run.op("classifier.train", lambda: train_nb_classifier(
            docs.withColumn("label", F.col("lang") == "en")))
        with run.rec.span("pipeline.prepare"):
            corpus, stats = run.op("pipeline.prepare_build", lambda: prepare_corpus(
                docs, classifier_model=model, **FUNNEL))

            def action():
                corpus.write.format("noop").mode("overwrite").save()
                return stats.orderBy("stage").collect()
            got = run.op("pipeline.prepare_action", action)
        run.check([(r["stage"], r["rows"]) for r in got] == self.want_stats,
                  f"funnel stages {got} != oracle {self.want_stats}")

        # the ingest loop, from the seeded store and corpus
        base = os.path.join(os.path.dirname(self.pristine), f"round-{i}")
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(self.pristine, base)
        corpus_path, store_path = os.path.join(base, "corpus"), os.path.join(base, "store")
        files = f"read_parquet('{corpus_path}/*.parquet')"
        survivors = 0
        for b, batch in enumerate(self.batches):
            texts_before = {t for (t,) in run.q(f"SELECT text FROM {files}")}
            df = self.spark.createDataFrame(batch)
            report = run.op("pipeline.ingest", lambda: ingest_batch(df, store_path, corpus_path))
            ids = run.q(f"SELECT doc_id FROM {files}")
            new_texts = [t for (t,) in run.q(
                f"SELECT text FROM {files} WHERE list_contains(?, doc_id)",
                batch["doc_id"].tolist())]
            for p in checks.ingest(report, [x for (x,) in ids], self.seed_ids, survivors,
                                   new_texts, texts_before):
                run.check(False, f"ingest batch {b}: {p}")
            survivors += report["survivors"]
        shutil.rmtree(base, ignore_errors=True)

    # -- metrics ---------------------------------------------------------
    def named_metrics(self) -> dict:
        s = self.run.samples
        # the funnel: classifier training, prepare_corpus and its final action
        funnel = [a + b + c for a, b, c in zip(
            s["classifier.train"], s["pipeline.prepare_build"], s["pipeline.prepare_action"])]
        return {
            "corpus.funnel_s": {"value": median(funnel), "unit": "s"},
            "corpus.ingest_s": {"value": median(self.run.samples["pipeline.ingest"]), "unit": "s"},
        }

    def layer_metrics(self, rec) -> dict:
        out = {}
        for name, unit in LAYERS:
            out.update(span_metrics(rec, name, unit, spark=name in SPARK_SPANS))
        out["dedup.store_seed_s"] = {"value": self.store_seed_s, "unit": "s"}
        for sp in rec.named("pipeline.prepare"):
            parts = sum(c.wall_s for c in rec.children(sp))
            ok = abs(parts - sp.wall_s) <= 0.05 * sp.wall_s
            print(f"perfbench: traced build + action {parts:.3f} s is {100 * parts / sp.wall_s:.1f}%"
                  f" of the prepare span's {sp.wall_s:.3f} s ({'within' if ok else 'NOT within'} 5%)")
        return out
