"""Output checkers. Each takes the program's output and an expectation
computed apart from the program (DuckDB over the same files, or plain
Python over the generated inputs) and returns a list of problems; an
empty list means the output is correct. They take plain Python data so
the tests can feed them perturbed outputs."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

AVG_TOL = 1e-6  # the 6-decimal granularity of the registry's exact-decimal twins


def buckets(got: list[dict], want: list[dict], cols: list[str]) -> list[str]:
    """Time-bucket aggregates. ``got`` rows: ``start`` (epoch s),
    ``point_count``, ``{c}_avg/_min/_max``. ``want`` rows: ``start``,
    ``n`` and per column ``{c}_sum`` (an exact Fraction), ``{c}_n``,
    ``{c}_min``, ``{c}_max``. Start, count, min and max must be exact;
    averages within the exact twins' 1e-6."""
    problems = []
    if [g["start"] for g in got] != [w["start"] for w in want]:
        g_s, w_s = {g["start"] for g in got}, {w["start"] for w in want}
        return [f"bucket starts differ: {len(g_s - w_s)} extra, {len(w_s - g_s)} missing"
                f" (or out of order)"]
    for g, w in zip(got, want):
        if g["point_count"] != w["n"]:
            problems.append(f"bucket {w['start']}: count {g['point_count']} != {w['n']}")
        for c in cols:
            for k in ("min", "max"):
                if g[f"{c}_{k}"] != w[f"{c}_{k}"]:
                    problems.append(f"bucket {w['start']}: {c}_{k} {g[f'{c}_{k}']} != {w[f'{c}_{k}']}")
            exact = w[f"{c}_sum"] / w[f"{c}_n"]
            if g[f"{c}_avg"] is None or abs(Fraction(g[f"{c}_avg"]) - exact) > AVG_TOL:
                problems.append(f"bucket {w['start']}: {c}_avg {g[f'{c}_avg']} != {float(exact)}")
    return problems[:10]


def rows_equal(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    if got == want:
        return []
    missing = Counter(want) - Counter(got)
    extra = Counter(got) - Counter(want)
    return [f"{what}: {sum(missing.values())} rows missing, {sum(extra.values())} extra"
            + ("" if missing or extra else " (order differs)")]


def cached_read(keys: list, times: list, expected_rows: int) -> list[str]:
    """A cached read: the table's row count, no duplicate keys, rows in
    time order."""
    problems = []
    if len(keys) != expected_rows:
        problems.append(f"cached read has {len(keys)} rows, table has {expected_rows}")
    dups = len(keys) - len(set(keys))
    if dups:
        problems.append(f"cached read has {dups} duplicate keys")
    if any(a > b for a, b in zip(times, times[1:])):
        problems.append("cached read is not in time order")
    return problems


def lttb(points: list[tuple], series: list[tuple], threshold: int,
         tol: float = 0.0) -> list[str]:
    """LTTB output against its input series (both sorted by x):
    min(threshold, n) points, a subset of the input (y within ``tol``),
    first and last point kept, x strictly increasing."""
    problems = []
    want_n = min(threshold, len(series))
    if len(points) != want_n:
        problems.append(f"LTTB returned {len(points)} points, expected {want_n}")
    ys = dict(series)

    def kept(p, q) -> bool:
        return p[0] == q[0] and abs(p[1] - q[1]) <= tol
    foreign = [p for p in points if p[0] not in ys or not kept(p, (p[0], ys[p[0]]))]
    if foreign:
        problems.append(f"LTTB returned {len(foreign)} points not in its input")
    if points and series and not (kept(points[0], series[0]) and kept(points[-1], series[-1])):
        problems.append("LTTB dropped the first or last point")
    if any(a[0] >= b[0] for a, b in zip(points, points[1:])):
        problems.append("LTTB x is not increasing")
    return problems


def keyed_values(got: dict, want: dict, what: str) -> list[str]:
    """Key -> value maps must be equal (key set and per-key values)."""
    problems = []
    if got.keys() != want.keys():
        problems.append(f"{what}: {len(got.keys() - want.keys())} unexpected keys, "
                        f"{len(want.keys() - got.keys())} missing keys")
    bad = [k for k in got.keys() & want.keys() if got[k] != want[k]]
    if bad:
        problems.append(f"{what}: {len(bad)} keys with wrong values, e.g. {bad[0]}: "
                        f"{got[bad[0]]} != {want[bad[0]]}")
    return problems


def ingest(report: dict, corpus_ids: list, seed_ids: list, survivors_before: int,
           survivor_texts: list[str], texts_before: set[str]) -> list[str]:
    """One ``ingest_batch`` call: batch = survivors + duplicates; corpus
    rows = seed + all survivors so far, no repeated doc_id; no survivor
    repeats a text already in the corpus."""
    problems = []
    if report["batch"] != report["survivors"] + report["duplicates"]:
        problems.append(f"batch {report['batch']} != survivors {report['survivors']}"
                        f" + duplicates {report['duplicates']}")
    if len(corpus_ids) != len(seed_ids) + survivors_before + report["survivors"]:
        problems.append(f"corpus has {len(corpus_ids)} rows, expected "
                        f"{len(seed_ids)} + {survivors_before + report['survivors']}")
    if len(set(corpus_ids)) != len(corpus_ids):
        problems.append("corpus repeats a doc_id")
    if len(survivor_texts) != report["survivors"]:
        problems.append(f"{len(survivor_texts)} survivor rows, report says {report['survivors']}")
    repeated = sum(t in texts_before for t in survivor_texts)
    if repeated:
        problems.append(f"{repeated} survivors repeat a text already in the corpus")
    return problems
