"""batch: the scheduled jobs — the corpus funnel and one ingest of the
daily-crawl loop (``corpus_prep.py``), then one sync cycle
(``sync_cycle.py``).

A batch job starts in a new process, so its users pay Spark's code
generation and the JVM's compilation on every run, and this workload is
measured that way: before timing only the inputs are staged and the
MinHash store the ingest probes is seeded. (One untimed warm-up round
would double the run and, measured on the 4-core host, did not make the
funnel's timings steadier.) Every timed call is an operation kind of
``op_cpu_gmean_ms``.
"""

from __future__ import annotations

from . import corpus_prep, sync_cycle

LAYER_UNITS = sync_cycle.LAYER_UNITS + corpus_prep.LAYER_UNITS


class Workload:
    MIN_ROUNDS = 1

    def __init__(self, run):
        self.run = run
        self.sync = sync_cycle.SyncCycle(run)
        self.corpus = corpus_prep.CorpusPrep(run)

    def stage(self) -> None:
        self.sync.stage()
        self.corpus.stage()

    def warm_up(self) -> None:
        self.corpus.seed_store()

    def op_kinds(self) -> list[str]:
        return list(self.run.samples)

    def reset(self) -> None:
        self.sync.reset()

    def round(self, i: int) -> None:
        self.corpus.round(i)
        self.sync.round(i)

    def named_metrics(self) -> dict:
        return {**self.sync.named_metrics(), **self.corpus.named_metrics()}

    def layer_metrics(self, rec) -> dict:
        return {**self.sync.layer_metrics(rec), **self.corpus.layer_metrics(rec)}

    def close(self) -> None:
        pass
