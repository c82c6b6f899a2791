"""Shared run loop: session, setup timing, timed operations, checks,
memory, and the metrics each run prints."""

from __future__ import annotations

import importlib
import json
import os
import re
import sys
import time
from collections import defaultdict

import duckdb
import numpy as np

from .layers import gmean, median
from .spans import Recorder

WORKLOADS = ("dashboard", "batch")
# (metric, unit) on the result line of an untraced run: set-up time, and
# what a timed operation costs in CPU (see CpuMeter). The lines before it
# give the same operations' wall time and a round's summed CPU: on a host
# shared with other tenants, wall time moved by up to 2x between runs of
# the same code, and a round's CPU, dominated by the cached-read chain,
# spread by 0.23 over ten seeds, too much for a bound.
END_TO_END = [("setup_s", "s"), ("op_cpu_gmean_ms", "ms")]


_TICK = os.sysconf("SC_CLK_TCK")
# the JVM's just-in-time compiler threads ("C1 CompilerThread0", ...)
_JIT_THREAD = re.compile(r"C\d CompilerThre")


def _stat(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class CpuMeter:
    """CPU seconds, user and system, that the benchmark process and every
    process below it (its JVM, the JVM's Python workers) have spent, less
    what the JVM's just-in-time compiler threads have spent: compiling is
    a warm-up cost whose timing differs from run to run, and a server up
    for a while no longer pays it. Read from ``/proc``; time the host
    takes away from the virtual CPUs (steal) is in no process's CPU time,
    so the figure moves less with the host's other tenants than wall time
    does (their load still slows each instruction)."""

    def __init__(self, root: int):
        self.root = root
        self.jvm = None
        self.jit_tids: dict[int, float] = {}  # compiler thread -> CPU last read
        self.seen: set[int] = set()

    def _tree_ticks(self) -> int:
        parent, ticks = {}, {}
        for p in os.listdir("/proc"):
            if p.isdigit() and (f := _stat(f"/proc/{p}/stat")) is not None:
                parent[int(p)] = int(f[1])
                ticks[int(p)] = sum(int(x) for x in f[11:15])
        total = 0
        for pid, t in ticks.items():
            q = pid
            while q != self.root and q in parent:
                q = parent[q]
            if q == self.root:
                total += t
        return total

    def _jit_s(self) -> float:
        """CPU of the compiler threads; a thread that has ended keeps the
        figure last read for it."""
        if self.jvm is None:
            return 0.0
        task = f"/proc/{self.jvm}/task"
        for t in os.listdir(task):
            tid = int(t)
            if tid not in self.seen:
                self.seen.add(tid)
                try:
                    with open(f"{task}/{t}/comm") as f:
                        if _JIT_THREAD.match(f.read()):
                            self.jit_tids[tid] = 0.0
                except OSError:
                    pass
        for tid in self.jit_tids:
            if (f := _stat(f"{task}/{tid}/stat")) is not None:
                self.jit_tids[tid] = (int(f[11]) + int(f[12])) / _TICK
        return sum(self.jit_tids.values())

    def read(self) -> float:
        return self._tree_ticks() / _TICK - self._jit_s()


class Run:
    """One workload's run state: session, recorder, DuckDB oracle
    connection, per-operation samples, operation counts and failed
    checks."""

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.duck = duckdb.connect()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        self.round_ops: list[float] = []
        self.round_cpu: list[float] = []
        self.cpu = CpuMeter(os.getpid())
        self.cpu.jvm = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.oracle_s = 0.0  # time spent in DuckDB oracle queries

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def op(self, name: str, fn, threaded: bool = False, timed: bool = True):
        """Run one operation under a span of the same name. Its latency,
        span entry and exit included, is a sample of ``name`` unless
        ``timed`` is false."""
        self.attempted += 1
        c0 = self.cpu.read()
        t0 = time.perf_counter()
        with self.rec.span(name, threaded=threaded):
            out = fn()
        dt = time.perf_counter() - t0
        cpu = self.cpu.read() - c0
        if timed:
            self.samples[name].append(dt)
            self.cpu_samples[name].append(cpu)
            self.round_ops.append(dt)
            self.round_cpu.append(cpu)
        return out

    def fail(self) -> None:
        """Count the last attempted operation as failed."""
        self.failed += 1

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    def q(self, sql: str, *params):
        t0 = time.perf_counter()
        out = self.duck.execute(sql, list(params)).fetchall()
        self.oracle_s += time.perf_counter() - t0
        return out


def per_layer_units() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, over all workloads."""
    out = []
    for name in WORKLOADS:
        out += importlib.import_module(f"perfbench.{name}").LAYER_UNITS
    return out + [("spark.spill_bytes", "B"), ("trace.recorder_pct", "%"), ("peak_rss_mb", "MB")]


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def _run_rounds(run: Run, wl, seconds: float) -> list[float]:
    """Whole rounds, at least the workload's ``MIN_ROUNDS``, until
    ``seconds`` have passed; returns each round's summed operation
    latency."""
    totals, cpu = [], []
    t0 = time.perf_counter()
    i = 0
    while len(totals) < wl.MIN_ROUNDS or time.perf_counter() - t0 < seconds:
        run.round_ops, run.round_cpu = [], []
        wl.round(i)
        run.rec.resolve()
        totals.append(sum(run.round_ops))
        cpu.append(sum(run.round_cpu))
        i += 1
    return totals, cpu


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    ends when its standard input closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run_workloads(names, seed: int, seconds: float, trace: bool, work: str,
                  t_process_start: float, cores: int) -> dict:
    from oracle_duckdb_sync_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    t_start = t_process_start
    try:
        for name in names:
            results[name] = _run_one(spark, name, seed, seconds, trace, work, t_start, cores)
            t_start = time.perf_counter()
    finally:
        _stop(spark)
    if len(names) == 1:
        return results[names[0]]
    return {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()
        },
    }


def _run_one(spark, name: str, seed: int, seconds: float, trace: bool, work: str,
             t_start: float, cores: int) -> dict:
    mod = importlib.import_module(f"perfbench.{name}")
    wdir = os.path.join(work, name)
    plain = Recorder(spark, enabled=False, cores=cores)
    run = Run(spark, plain, wdir, seed)
    wl = mod.Workload(run)

    t0 = time.perf_counter()
    wl.stage()
    t_warm = time.perf_counter()
    wl.warm_up()
    wl.reset()
    for op, xs in sorted(run.samples.items()):
        print(f"{name} warm-up op {op}: {1e3 * sum(xs):.0f} ms", file=sys.stderr)
    run.samples.clear()
    run.cpu_samples.clear()
    run.attempted = run.failed = 0
    t_first = time.perf_counter()
    setup_s = t_first - t_start

    if trace:
        run.rec = Recorder(spark, enabled=True, cores=cores)
    totals, cpu_totals = _run_rounds(run, wl, seconds)
    named = wl.named_metrics()
    ops = wl.op_kinds()
    values = {
        "setup_s": setup_s,
        # per round: the summed CPU of its operations; per operation kind:
        # the median over its calls, then the geometric mean over kinds,
        # so that a cheap action counts as much as an expensive one
        "round_cpu_s": median(cpu_totals),
        "op_cpu_gmean_ms": 1e3 * gmean([median(run.cpu_samples[k]) for k in ops]),
        # the same on wall time
        "round_s": median(totals),
        "op_gmean_ms": 1e3 * gmean([median(run.samples[k]) for k in ops]),
    }
    with open(os.path.join(work, f"samples-{name}.json"), "w") as f:
        json.dump({"rounds": totals, "cpu_rounds": cpu_totals, "samples": run.samples,
                   "cpu_samples": run.cpu_samples, **values}, f)
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    rss = {"value": peak_rss_mb(spark), "unit": "MB"}
    named.update({**metrics, "round_cpu_s": {"value": values["round_cpu_s"], "unit": "s"},
                  "round_s": {"value": values["round_s"], "unit": "s"},
                  "op_gmean_ms": {"value": values["op_gmean_ms"], "unit": "ms"},
                  "peak_rss_mb": rss, "rounds": {"value": len(totals), "unit": "count"}})
    _report(name, "end-to-end" + (" (traced)" if trace else ""), named)
    for op, xs in sorted(run.samples.items()):
        print(f"{name} op {op}: n={len(xs)} median={1e3 * median(xs):.1f} ms "
              f"min={1e3 * min(xs):.1f} max={1e3 * max(xs):.1f}", file=sys.stderr)
    print(f"{name} rounds: {[round(x, 2) for x in totals]} s", file=sys.stderr)
    print(f"{name} setup: stage_s={t_warm - t0:.2f} warm_up_s={t_first - t_warm:.2f}",
          file=sys.stderr)

    if trace:
        rec = run.rec
        layer = wl.layer_metrics(rec)
        layer["spark.spill_bytes"] = {
            "value": sum(sp.spill_bytes for sp in rec.spans) / len(totals), "unit": "B"}
        # the recorder's own Python time (span entry/exit and reading the
        # status store) against the traced operations' time; what tracing
        # costs inside Spark is not in it: compare the traced run's
        # op_cpu_gmean_ms and round_s with an untraced run of the same seed
        layer["trace.recorder_pct"] = {
            "value": 100.0 * rec.overhead_s / sum(totals), "unit": "%"}
        layer["peak_rss_mb"] = rss
        _report(name, "per-layer", layer)
        with open(os.path.join(work, f"spans-{name}.json"), "w") as f:
            json.dump({"recorder_s": rec.overhead_s, "spans": rec.dump()}, f)
        # layers this workload does not exercise read 0
        metrics = {k: layer.get(k, {"value": 0, "unit": u}) for k, u in per_layer_units()}

    wl.close()
    run.duck.close()
    return {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def _report(workload: str, kind: str, metrics: dict) -> None:
    for k, m in metrics.items():
        print(f"{workload} {kind} {k} = {m['value']:.6g} {m['unit']}")
