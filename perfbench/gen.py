"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed``: the same
seed writes the same bytes. The tables follow the layout of the
engine's catalog (``{sf_dir}/{name}.parquet``) at the sf0.1 row count
of the engine's own test data, so the registered time-series queries
and their DuckDB oracles run unchanged against the generated
directory. The gas CSVs follow the reference ETL's wide day-file format: a ``Time (s)``
offset column plus the 19 sensor columns, sampled at 3.5 Hz, with the
day in the file name.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
N_EVENTS = 100_000
N_USERS = 1_500

#: Gas sensor day files: 3.5 Hz over a seeded capture window per day.
GAS_HZ = 3.5
GAS_CAPTURE_S = 1_800
GAS_ROWS = int(GAS_CAPTURE_S * GAS_HZ)


def events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    # distinct, sorted microsecond offsets: no two events share a time
    offs = np.sort(rng.choice(span_us, size=n, replace=False))
    ts = EPOCH + offs.astype("timedelta64[us]")
    kind = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.gamma(1.3, 40.0, n), 2) + 0.01
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[kind]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_corpus(sf_dir: str, seed: int) -> None:
    """Write the seeded ``events`` table the dashboard stores are built from."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pq.write_table(events(rng), os.path.join(sf_dir, "events.parquet"))


def write_gas_day(
    rng: np.random.Generator, day: np.datetime64, labels: list[str], out_dir: str
) -> tuple[str, np.ndarray]:
    """Write one wide day file; returns (file name, per-column sums of
    the values in units of 1e-4, as exact integers).

    The capture window starts at a seeded second of the day and ends
    before midnight, so every row survives the ingest's 24 h cap."""
    import pyarrow.csv as pacsv

    n = GAS_ROWS
    start = float(rng.integers(0, 86_400 - GAS_CAPTURE_S - 1))
    t = np.round(start + np.arange(n) / GAS_HZ, 4)
    base = np.arange(len(labels), dtype=np.float64) * 10.0 + 5.0
    ticks = np.rint((base + rng.normal(0.0, 2.0, (n, len(labels)))) * 1e4).astype(np.int64)
    cols = {"Time (s)": t, **{c: ticks[:, j] / 1e4 for j, c in enumerate(labels)}}
    name = str(day.astype("datetime64[D]")).replace("-", "") + "_000000.csv"
    pacsv.write_csv(pa.table(cols), os.path.join(out_dir, name))
    return name, ticks.sum(axis=0)
