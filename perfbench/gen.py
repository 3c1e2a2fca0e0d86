"""Seeded event-log generator in the harness ``events`` schema.

``events(event_id BIGINT, ts TIMESTAMP[us], user_id BIGINT, event_type
STRING, value DOUBLE, props STRING)`` — the layout ``tables.load_table``
reads, so the program loads a generated log unchanged.

Timestamps are unique across the whole log (sorted draws plus the row
index), which makes ``(user_id, ts)`` unique. Without that, the examples
window ``ROWS BETWEEN 1 PRECEDING`` orders tied rows arbitrarily in both
Spark and DuckDB and the correctness gate would flap.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = pa.array(["click", "error", "purchase", "signup", "view"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000


def make_events(seed: int, n_events: int, n_entities: int, span_days: int) -> pa.Table:
    """The same ``(seed, n_events, n_entities, span_days)`` gives the same table."""
    rng = np.random.default_rng(seed)
    span_us = span_days * DAY_US
    offsets = np.sort(rng.integers(0, span_us - n_events, n_events)) + np.arange(n_events)
    user = rng.integers(0, n_entities, n_events)
    etype = EVENT_TYPES.take(rng.integers(0, len(EVENT_TYPES), n_events))
    value = rng.integers(1, 20_000, n_events) / 100.0
    props = PROPS.take(rng.integers(0, len(PROPS), n_events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(START_US + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": etype,
            "value": pa.array(value),
            "props": props,
        }
    )


def write_events(table: pa.Table, sf_dir: str) -> str:
    """Write ``table`` as ``<sf_dir>/events.parquet``; returns the file path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path
