"""Seeded generator for the ``events`` table the benchmark feeds the ETL.

Rows follow the testdata ``events`` schema (``event_id``, ``ts``,
``user_id``, ``event_type``, ``value``, ``props``). ``event_id`` and ``ts``
increase monotonically across the whole stream, so every landed day is a
clean suffix of the history — the shape the pipelines' watermarks assume.
``user_id`` (the SKU of the inventory pipeline, the customer of the sales
pipeline) is Zipf-skewed over a fixed key universe — a few hot keys, a
long cold tail — or uniform with ``zipf_s=0``. ``signup`` events are the absolute stock resets of the replay.

Two timestamp layouts are written, matching the two readers in the repo:

- ``utc=True``: ``TIMESTAMP(MICROS, isAdjustedToUTC=true)``, what a Spark
  job writes and what the pipelines read with ``spark.read.parquet``;
- ``utc=False``: ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, the testdata
  layout that ``io.sources.read_table`` and the DuckDB oracles read.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "click", "view", "error"])
EPOCH = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Shape:
    """Size of one generated stream."""

    days: int
    events_per_day: int
    n_keys: int
    zipf_s: float = 1.1


def _key_probabilities(n_keys: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) weights over ``n_keys`` ranks, with ranks shuffled onto
    key ids so the hot keys are not simply the smallest ids."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.permutation(w / w.sum())


class EventStream:
    """Deterministic day-by-day event source for one seed and shape.

    ``day(d)`` is a pure function of (seed, shape, d): it draws from its
    own generator, so any day can be produced in any order and the same
    seed always gives identical rows.
    """

    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.shape = shape
        self._p = _key_probabilities(
            shape.n_keys, shape.zipf_s, np.random.default_rng([seed, 0])
        )

    def day(self, d: int, *, utc: bool = True) -> pa.Table:
        n = self.shape.events_per_day
        rng = np.random.default_rng([self.seed, 1, d])
        offsets = np.sort(rng.integers(0, DAY_US, size=n, dtype=np.int64))
        epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        ts = epoch_us + d * DAY_US + offsets
        keys = rng.choice(self.shape.n_keys, size=n, p=self._p).astype(np.int64)
        types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
        cents = rng.integers(1, 50_000, size=n)
        props = np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
        )
        ts_type = pa.timestamp("us", tz="UTC") if utc else pa.timestamp("us")
        return pa.table(
            {
                "event_id": pa.array(d * n + np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.int64()).cast(ts_type),
                "user_id": pa.array(keys),
                "event_type": pa.array(types.tolist(), type=pa.string()),
                "value": pa.array(cents / 100.0),
                "props": pa.array(props.tolist(), type=pa.string()),
            }
        )

    def days(self, first: int, last: int, *, utc: bool = True) -> pa.Table:
        """Days ``first`` .. ``last - 1`` as one table."""
        return pa.concat_tables([self.day(d, utc=utc) for d in range(first, last)])


def land_day(stream: EventStream, d: int, events_dir: str) -> int:
    """Write day ``d`` as its own parquet file under ``events_dir`` (the
    way a daily export lands next to the history); returns its row count."""
    os.makedirs(events_dir, exist_ok=True)
    t = stream.day(d, utc=True)
    pq.write_table(t, os.path.join(events_dir, f"day-{d:05d}.parquet"))
    return t.num_rows


def land_history(stream: EventStream, days: int, events_dir: str) -> int:
    """Write days ``0 .. days - 1`` as one parquet file under
    ``events_dir`` (the consolidated export the daily files follow);
    returns its row count."""
    os.makedirs(events_dir, exist_ok=True)
    t = stream.days(0, days, utc=True)
    pq.write_table(t, os.path.join(events_dir, "history.parquet"))
    return t.num_rows


def write_testdata_events(stream: EventStream, sf_dir: str) -> int:
    """Write the whole stream as ``<sf_dir>/events.parquet``, one file in
    the testdata layout; returns its row count."""
    os.makedirs(sf_dir, exist_ok=True)
    t = stream.days(0, stream.shape.days, utc=False)
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"))
    return t.num_rows
