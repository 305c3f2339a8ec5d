"""Seeded inputs for the benchmark workloads.

``write_corpus`` writes the ``documents``, ``embeddings`` and ``events``
tables in the shape and value distributions of the driver-contract testdata
(one parquet file each), so the registry queries run on them unchanged.
``taxi_landing`` writes raw taxi files for the four sources with the
library's own fixture generators, driven by the benchmark's rng.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data row column table key value join hash scan filter sort merge group "
    "agg window line part order customer query batch stream vector spark fast slow "
    "small big"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EMBED_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    # 5% near-duplicates: a copy of another document with one marker word
    for i in rng.choice(n, size=n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(1.0, size=n)
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def write_corpus(out_dir: str, seed: int, documents: int, embeddings: int, events: int) -> None:
    """Write the three corpus tables, one parquet file each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, documents),
        "embeddings": _embeddings(rng, embeddings),
        "events": _events(rng, events, users=max(15, events // 66)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _shift_to_month(pdf: pd.DataFrame, month: int) -> pd.DataFrame:
    """The January rows of a fixture batch moved to ``month`` of 2023 (days
    1-27 stay inside the month), with year/month recomputed."""
    ts_cols = [c for c in pdf.columns if c.endswith("_datetime")]
    pickup = next(c for c in ts_cols if "pickup" in c)
    shift = pd.Timestamp(2023, month, 1) - pd.Timestamp(2023, 1, 1)
    pdf = pdf[pdf["month"] == 1].copy()
    for c in ts_cols:
        pdf[c] = pdf[c] + shift
    pdf["year"] = pdf[pickup].dt.year.fillna(2023).astype("int32")
    pdf["month"] = pdf[pickup].dt.month.fillna(month).astype("int32")
    pdf["loaded_at"] = pd.Timestamp(2023, month + 1, 1)
    return pdf


def taxi_landing(out_dir: str, seed: int, n: int, new_months: int) -> list[dict[str, str]]:
    """Raw files, one batch per scheduled run: the backfill (Jan-Feb 2023)
    first, then one batch per new month from March on.

    Returns one ``{table: path}`` per batch.
    """
    from lakehouse_platform_nyc_taxi_spark import fixtures

    rng = np.random.default_rng([seed, 2])

    def batch(size: int) -> dict[str, pd.DataFrame]:
        return {
            "yellow_trips": fixtures._yellow_like(rng, size, "tpep_pickup_datetime", "tpep_dropoff_datetime"),
            "green_trips": fixtures._yellow_like(
                rng, size, "lpep_pickup_datetime", "lpep_dropoff_datetime", with_null_locations=True
            ),
            "fhv_trips": fixtures._fhv(rng, size // 2),
            "fhvhv_trips": fixtures._fhvhv(rng, size),
        }

    batches = [batch(n)] + [
        {t: _shift_to_month(p, 3 + i) for t, p in batch(n).items()} for i in range(new_months)
    ]
    out = []
    for i, frames in enumerate(batches):
        paths = {}
        for table, pdf in frames.items():
            path = os.path.join(out_dir, f"batch{i}", f"{table}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
            paths[table] = path
        out.append(paths)
    return out
