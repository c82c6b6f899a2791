"""Tests of the benchmark itself: each checker accepts a correct output
and rejects a perturbed one, and the span recorder nests spans and
carries their Spark jobs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import threading
from fractions import Fraction

import pytest

from perfbench import checks


def _bucket_pair():
    want = [
        {"start": 0, "n": 2, "v_sum": Fraction(301, 100), "v_n": 2, "v_min": 1.0, "v_max": 2.01},
        {"start": 600, "n": 1, "v_sum": Fraction(5), "v_n": 1, "v_min": 5.0, "v_max": 5.0},
    ]
    got = [
        {"start": 0, "point_count": 2, "v_avg": 1.505, "v_min": 1.0, "v_max": 2.01},
        {"start": 600, "point_count": 1, "v_avg": 5.0, "v_min": 5.0, "v_max": 5.0},
    ]
    return got, want


def test_buckets_accepts_exact_output():
    got, want = _bucket_pair()
    assert checks.buckets(got, want, ["v"]) == []


@pytest.mark.parametrize("field,value", [
    ("point_count", 3), ("v_min", 0.99), ("v_max", 2.02), ("v_avg", 1.5051),
])
def test_buckets_rejects_one_wrong_bucket(field, value):
    got, want = _bucket_pair()
    got[0][field] = value
    assert checks.buckets(got, want, ["v"])


def test_buckets_rejects_missing_or_shifted_bucket():
    got, want = _bucket_pair()
    assert checks.buckets(got[:1], want, ["v"])
    got[1]["start"] = 1200
    assert checks.buckets(got, want, ["v"])


def test_rows_equal_rejects_missing_and_duplicated_rows():
    rows = [(1, 10), (2, 20), (3, 30)]
    assert checks.rows_equal(list(rows), rows, "page") == []
    assert checks.rows_equal(rows[:2], rows, "page")
    assert checks.rows_equal(rows + [rows[0]], rows, "page")
    assert checks.rows_equal(rows[::-1], rows, "page")


def test_cached_read_rejects_missing_duplicated_and_unordered_rows():
    keys, times = [1, 2, 3], [10, 20, 20]
    assert checks.cached_read(keys, times, 3) == []
    assert checks.cached_read(keys[:2], times[:2], 3)
    assert checks.cached_read(keys + [3], times + [20], 4)
    assert checks.cached_read(keys, [20, 10, 30], 3)


def test_lttb_rejects_a_result_without_its_last_point():
    series = [(x, float(x % 7)) for x in range(100)]
    points = [series[0], series[30], series[60], series[99]]
    assert checks.lttb(points, series, 4) == []
    assert checks.lttb(points[:-1] + [series[98]], series, 4)
    assert checks.lttb(points[:-1], series, 4)
    assert checks.lttb(points[:-1] + [(99, 0.5)], series, 4)
    assert checks.lttb([points[0], points[2], points[1], points[3]], series, 4)


def test_lttb_with_a_tolerance_rejects_a_moved_or_missing_point():
    series = [(x, x / 3) for x in range(10)]
    points = [(0, 0.0), (5, 5 / 3 + 1e-9), (9, 3.0)]
    assert checks.lttb(points, series, 3, tol=1e-6) == []
    assert checks.lttb(points, series, 3)
    assert checks.lttb([(0, 0.0), (5, 5 / 3 + 1e-3), (9, 3.0)], series, 3, tol=1e-6)
    assert checks.lttb([(0, 0.0), (5, 5 / 3), (8, 8 / 3)], series, 3, tol=1e-6)


def test_lttb_short_series_returns_every_point():
    series = [(0, 1.0), (1, 2.0)]
    assert checks.lttb(series, series, 10) == []
    assert checks.lttb(series[:1], series, 10)


def test_keyed_values_rejects_wrong_value_and_missing_key():
    want = {1: ("a", 1.0), 2: ("b", 2.0)}
    assert checks.keyed_values(dict(want), want, "t") == []
    assert checks.keyed_values({1: ("a", 1.0), 2: ("b", 2.5)}, want, "t")
    assert checks.keyed_values({1: ("a", 1.0)}, want, "t")
    assert checks.keyed_values({**want, 3: ("c", 3.0)}, want, "t")


def test_ingest_rejects_inconsistent_reports_and_corpora():
    report = {"batch": 4, "survivors": 2, "duplicates": 2}
    seed, before = [1, 2, 3], {"x", "y"}
    ok = dict(report=report, corpus_ids=[1, 2, 3, 10, 11], seed_ids=seed, survivors_before=0,
              survivor_texts=["p", "q"], texts_before=before)
    assert checks.ingest(**ok) == []
    assert checks.ingest(**{**ok, "report": {**report, "duplicates": 1}})
    assert checks.ingest(**{**ok, "corpus_ids": [1, 2, 3, 10]})
    assert checks.ingest(**{**ok, "corpus_ids": [1, 2, 3, 10, 10]})
    assert checks.ingest(**{**ok, "survivor_texts": ["p", "x"]})


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_spans_nest_and_carry_their_jobs(spark):
    from perfbench.spans import Recorder

    rec = Recorder(spark, enabled=True, cores=2)
    df = spark.range(1000)
    with rec.span("outer"):
        with rec.span("inner"):
            df.groupBy((df.id % 3).alias("k")).count().collect()
        df.count()
    with rec.span("threaded", threaded=True):
        t = threading.Thread(target=lambda: spark.range(10).collect())
        t.start()
        t.join(60)
    assert not t.is_alive()
    rec.resolve()
    outer, inner, threaded = (rec.named(n)[0] for n in ("outer", "inner", "threaded"))
    assert inner.parent == outer.id and outer.parent is None and threaded.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end <= threaded.start
    assert inner.jobs and outer.jobs and threaded.jobs
    assert not set(inner.jobs) & set(outer.jobs)
    assert inner.stages >= 2 and inner.tasks >= 2 and inner.shuffle_write_bytes > 0
    assert {s["name"] for s in rec.dump()} == {"outer", "inner", "threaded"}


def test_span_opened_on_a_worker_thread_takes_its_own_jobs(spark):
    """As the engine's span inside a service-driven sync: the child span
    runs on the worker thread, the parent waits for it."""
    from perfbench.layers import span_metrics
    from perfbench.spans import Recorder

    rec = Recorder(spark, enabled=True, cores=2)

    def work():
        with rec.span("engine"):
            spark.range(100).count()
        spark.range(10).collect()  # after the child: the parent's job

    with rec.span("service", threaded=True):
        t = threading.Thread(target=work)
        t.start()
        t.join(60)
    assert not t.is_alive()
    rec.resolve()
    service, engine = rec.named("service")[0], rec.named("engine")[0]
    assert engine.parent == service.id
    assert engine.jobs and service.jobs and not set(engine.jobs) & set(service.jobs)
    total = span_metrics(rec, "service", "s")["service_jobs"]["value"]
    assert total == len(engine.jobs) + len(service.jobs)


def test_cpu_meter_counts_child_processes_and_leaves_out_the_compiler(spark):
    import os
    import subprocess
    import sys
    import time

    from perfbench.harness import CpuMeter

    meter = CpuMeter(os.getpid())
    meter.jvm = spark.sparkContext._gateway.proc.pid
    c0, t0 = meter.read(), time.process_time()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    sum(i * i for i in range(3_000_000))
    spent = meter.read() - c0
    mine = time.process_time() - t0
    assert spent > 1.5 * mine  # the reaped child's CPU is in it too
    assert meter.jit_tids  # the JVM's compiler threads were found


def test_disabled_recorder_records_nothing(spark):
    from perfbench.spans import Recorder

    rec = Recorder(spark, enabled=False)
    with rec.span("x") as sp:
        spark.range(10).count()
    rec.resolve()
    assert sp is None and rec.spans == []


def test_benchmark_json_lists_the_metrics_a_run_prints():
    import json
    import os

    from perfbench.harness import END_TO_END, WORKLOADS, per_layer_units

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
