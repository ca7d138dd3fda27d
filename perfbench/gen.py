"""Seeded input generator.

Only the ``events`` table is generated; the other tables are the
vendored sf0.01 testdata files under ``data/``, copied unchanged.  The
engine only ever sees the parquet files written here.

Batch events follow arrival order (``event_id``) with ``ts`` rising
over ``days`` days; a ``late_share`` of them carry a ``ts`` up to
``late_max_s`` seconds earlier than their arrival position.  User ids
are Zipf-skewed over ``users`` ids.  The same seed gives byte-identical
files.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
#: the ``props`` JSON the queries parse (``{"k": N}``, N in 0..99)
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))


@dataclass(frozen=True)
class EventSpec:
    rows: int
    users: int
    zipf: float = 1.1
    late_share: float = 0.05
    late_max_s: float = 60.0
    days: int = 30


def _zipf_users(rng: np.random.Generator, n: int, users: int, s: float) -> np.ndarray:
    weights = np.arange(1, users + 1, dtype=np.float64) ** -s
    ranks = rng.choice(users, size=n, p=weights / weights.sum())
    # rank r -> a fixed random id, so the hot users are not the low ids
    return rng.permutation(users)[ranks].astype(np.int64)


def _table(event_id, ts_us, user_id, rng: np.random.Generator) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.random(n) * 60.0, 2)),
            "props": pa.array(PROPS[rng.integers(0, len(PROPS), n)]),
        }
    )


def events_table(spec: EventSpec, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    span_us = spec.days * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, spec.rows)) + EPOCH_US
    late = rng.random(spec.rows) < spec.late_share
    ts -= np.where(late, rng.integers(0, int(spec.late_max_s * 1e6), spec.rows), 0)
    users = _zipf_users(rng, spec.rows, spec.users, spec.zipf)
    return _table(np.arange(spec.rows), ts, users, rng)


def write_sf_dir(sf_dir: str, spec: EventSpec, seed: int) -> str:
    """Materialise one input directory: generated events plus the
    vendored tables.  Returns *sf_dir*."""
    os.makedirs(sf_dir, exist_ok=True)
    for name in sorted(os.listdir(DATA_DIR)):
        shutil.copyfile(os.path.join(DATA_DIR, name), os.path.join(sf_dir, name))
    pq.write_table(events_table(spec, seed), os.path.join(sf_dir, "events.parquet"))
    return sf_dir


class StreamFiles:
    """Open-loop file source: each ``write`` lands one parquet file of
    *rows* events whose event time is spread over the interval that
    ends at *due* (the creation time), with user ids uniform over a
    bounded key space.  Files are written beside the target directory
    and renamed in, so the stream never lists a partial file."""

    def __init__(self, target_dir: str, users: int, seed: int):
        self.target_dir = target_dir
        self.users = users
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        self.n = 0
        os.makedirs(target_dir, exist_ok=True)

    def write(self, rows: int, due: float, interval_s: float) -> str:
        rng = self.rng
        start_us = int((due - interval_s) * 1e6)
        ts = start_us + np.sort(rng.integers(0, int(interval_s * 1e6), rows))
        ids = np.arange(self.next_id, self.next_id + rows)
        table = _table(ids, ts, rng.integers(0, self.users, rows), rng)
        self.next_id += rows
        name = f"part-{self.n:06d}.parquet"
        self.n += 1
        tmp = os.path.join(os.path.dirname(self.target_dir), "." + name)
        pq.write_table(table, tmp)
        final = os.path.join(self.target_dir, name)
        os.rename(tmp, final)
        return final
