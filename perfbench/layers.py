"""Per-layer metrics from recorded spans.

For a span name ``x`` measured in ``unit``: ``x_<unit>`` is the median
wall time of its calls and ``x_jobs`` the median number of Spark jobs
per call. For the spans an optimisation is most likely to move,
``spark.x.<field>`` gives the median per call of the Spark execution
under it, and ``spark.x.cpu_busy_ratio`` its executor CPU time over
wall time × cores (low for a call bound by per-job latency, near 1 for
a compute-bound one). A span's figures include its child spans'. Spill
is reported once for the whole run, per round (``spark.spill_bytes``):
at these input sizes no call spills.
"""

from __future__ import annotations

import statistics

SPARK_FIELDS = [
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("shuffle_write_bytes", "B"), ("cpu_busy_ratio", "ratio"),
]


def units(layers, spark_spans, extra=()) -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric a workload reports."""
    out = []
    for name, unit in layers:
        out += [(f"{name}_{unit}", unit), (f"{name}_jobs", "count")]
    for name in spark_spans:
        out += [(f"spark.{name}.{f}", u) for f, u in SPARK_FIELDS]
    return out + list(extra)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def gmean(xs) -> float:
    return float(statistics.geometric_mean(xs)) if xs else 0.0


def subtree(rec, sp) -> list:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += rec.children(s)
    return out


def span_metrics(rec, name: str, unit: str, spark: bool = False) -> dict:
    scale = {"ms": 1e3, "s": 1.0}[unit]
    calls = [(s, subtree(rec, s)) for s in rec.named(name)]
    out = {
        f"{name}_{unit}": {"value": scale * median([s.wall_s for s, _ in calls]), "unit": unit},
        f"{name}_jobs": {"value": median([len({j for t in tree for j in t.jobs})
                                        for _, tree in calls]), "unit": "count"},
    }
    if spark:
        for field, u in SPARK_FIELDS:
            if field == "cpu_busy_ratio":
                vals = [sum(t.executor_cpu_s for t in tree) / (s.wall_s * rec.cores)
                        for s, tree in calls]
            else:
                vals = [sum(getattr(t, field) for t in tree) for _, tree in calls]
            out[f"spark.{name}.{field}"] = {"value": median(vals), "unit": u}
    return out


def cache_reuse(incremental_flags: list[bool]) -> dict:
    """Cached reads served incrementally ÷ cached reads."""
    n = len(incremental_flags)
    return {"value": sum(incremental_flags) / n if n else 0.0, "unit": "ratio"}
