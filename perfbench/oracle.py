#!/usr/bin/env python3
"""Recompute the stored funnel oracle for the corpus_prep workload.

    python3 perfbench/oracle.py

Writes the fixed corpus to ``.bench_work/oracle``, runs the registry's
DuckDB twin of ``corpus_prep_funnel_classifier`` over it (about 7 s on
4 cores) and stores the stage counts in
``perfbench/oracle/funnel_classifier.json``, keyed by the corpus's
content hash.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from perfbench import inputs
    from perfbench.corpus_prep import ORACLE, funnel_oracle

    work = os.path.join(ROOT, ".bench_work", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    docs = inputs.corpus_documents()
    inputs.write_table(docs, work)
    t0 = time.perf_counter()
    with duckdb.connect() as duck:
        stats = funnel_oracle(f"{work}/*.parquet", duck)
    elapsed = time.perf_counter() - t0
    with open(ORACLE, "w") as f:
        json.dump({"corpus_sha256": inputs.corpus_hash(docs), "stats": stats,
                   "command": "python3 perfbench/oracle.py"}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{stats} in {elapsed:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
