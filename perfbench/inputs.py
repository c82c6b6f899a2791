"""Seeded input generators. Every table the program sees is made here.

The benchmark's ``--seed`` drives everything except two fixed inputs:
the corpus of :func:`corpus_documents` (its funnel oracle is stored,
keyed by the corpus hash) and the TIMESTAMP_NTZ source of
:func:`ntz_events` (the known-fault input, the same on every run).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
VOCAB = np.array(
    (
        "spark table query scan filter join group agg sort hash key value "
        "column row batch stream part order line customer vector fast slow "
        "small large index cache merge split count sum"
    ).split()
)
# 2024-01-01T00:00:00Z in epoch microseconds
T0_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
CORPUS_SEED = 20240101
NTZ_SEED = 7


def events(rng: np.random.Generator, n: int, start_id: int = 0,
           t_lo_us: int = T0_US, t_hi_us: int = T0_US + 30 * DAY_US) -> pd.DataFrame:
    """Events-shaped rows with native types, sorted by time. ``ts`` is
    whole seconds (the VARCHAR copy's 14-digit strings hold seconds), and
    ``value`` carries two decimals (sensor/currency shape)."""
    ts = np.sort(rng.integers(t_lo_us // 1_000_000, t_hi_us // 1_000_000, n)) * 1_000_000
    return pd.DataFrame(
        {
            "event_id": np.arange(start_id, start_id + n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us", utc=True),
            "user_id": rng.integers(0, 5_000, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(np.abs(rng.normal(50, 30, n)) + 0.01, 2),
        }
    )


def varchar_copy(ev: pd.DataFrame) -> pd.DataFrame:
    """The Oracle VARCHAR2 shape of ``ev``: every column a string, time
    as 14-digit ``yyyyMMddHHmmss``."""
    return pd.DataFrame(
        {
            "EVENT_ID": ev["event_id"].astype(str),
            "TS": ev["ts"].dt.strftime("%Y%m%d%H%M%S"),
            "USER_ID": ev["user_id"].astype(str),
            "EVENT_TYPE": ev["event_type"],
            "VALUE": ev["value"].map(lambda v: f"{v:.2f}"),
        }
    )


def write_table(pdf: pd.DataFrame, path: str, files: int = 4) -> None:
    """Write ``pdf`` as a parquet directory of ``files`` part files (the
    layout a 4-task Spark write leaves), timestamps as UTC instants."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        tbl = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        tbl = tbl.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
            for f in tbl.schema]))
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.snappy.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_partitioned(pdf: pd.DataFrame, path: str, col: str) -> None:
    """Write ``pdf`` as a Hive-partitioned parquet directory on ``col``
    (``path/col=value/``), one part file a partition."""
    for value, part in pdf.groupby(col, sort=True):
        write_table(part.drop(columns=[col]), os.path.join(path, f"{col}={value}"), files=1)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def with_day(ev: pd.DataFrame) -> pd.DataFrame:
    out = ev.copy()
    out["day"] = out["ts"].dt.strftime("%Y-%m-%d")
    return out


def changed_rows(rng: np.random.Generator, base: pd.DataFrame, frac: float,
                 n_new: int, next_id: int) -> pd.DataFrame:
    """An upsert batch: ``frac`` of ``base``'s keys with new values, plus
    ``n_new`` rows with unseen keys inside ``base``'s time range."""
    k = int(len(base) * frac)
    idx = rng.choice(len(base), k, replace=False)
    upd = base.iloc[np.sort(idx)].copy()
    upd["value"] = np.round(rng.uniform(0, 500, k) + 0.01, 2)
    upd["event_type"] = rng.choice(EVENT_TYPES, k)
    t_lo = int(base["ts"].min().value // 1000)
    t_hi = int(base["ts"].max().value // 1000)
    new = events(rng, n_new, start_id=next_id, t_lo_us=t_lo, t_hi_us=t_hi)
    out = pd.concat([upd, new], ignore_index=True)
    if "day" in base.columns:
        out["day"] = out["ts"].dt.strftime("%Y-%m-%d")
    return out


def _word_soup(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 60, n)
    return [" ".join(rng.choice(VOCAB, int(k))) for k in lens]


def corpus_documents() -> pd.DataFrame:
    """The fixed 1,000-document corpus (seed-independent): word soup over
    a small vocabulary, ~8% near-duplicate mutations of another document
    and ~2% exact copies, so every funnel stage has work to do."""
    rng = np.random.default_rng(CORPUS_SEED)
    n = 1_000
    texts = _word_soup(rng, n)
    for s, d in zip(rng.integers(0, n, n * 8 // 100), rng.integers(0, n, n * 8 // 100)):
        if s != d:
            w = texts[s].split()
            w[int(rng.integers(0, len(w)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
            texts[d] = " ".join(w)
    for s, d in zip(rng.integers(0, n, n // 50), rng.integers(0, n, n // 50)):
        texts[d] = texts[s]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def corpus_hash(docs: pd.DataFrame) -> str:
    """Content hash of a documents table (independent of parquet
    encoding), the key of the stored funnel oracle."""
    h = hashlib.sha256()
    for row in docs[["doc_id", "text", "lang", "source", "n_chars"]].itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def ingest_split(rng: np.random.Generator, docs: pd.DataFrame, n_batches: int,
                 batch_size: int) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Seeded split of the corpus into the documents that seed the store
    and ``n_batches`` daily batches of ``batch_size`` documents."""
    perm = rng.permutation(len(docs))
    cut = n_batches * batch_size
    batches = [
        docs.iloc[np.sort(perm[i * batch_size:(i + 1) * batch_size])].reset_index(drop=True)
        for i in range(n_batches)
    ]
    return docs.iloc[np.sort(perm[cut:])].reset_index(drop=True), batches


def ntz_events(path: str) -> None:
    """The known-fault source: events with a timestamp column written
    without a time zone (``isAdjustedToUTC=false``), which Spark reads as
    TIMESTAMP_NTZ under ``spark.sql.parquet.inferTimestampNTZ.enabled``."""
    ev = events(np.random.default_rng(NTZ_SEED), 20_000)
    tbl = pa.Table.from_pandas(ev, preserve_index=False)
    naive = pa.array(ev["ts"].dt.tz_localize(None).to_numpy("datetime64[us]"), pa.timestamp("us"))
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", naive)
    pq.write_table(tbl, path)
