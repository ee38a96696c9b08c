"""Seeded inputs for the benchmark and the aggregates the checker expects.

The events table has the schema of the program's `events` input (event_id,
ts, user_id, event_type, value, props). The program maps it to stock
transactions: symbol = 'U' + zero-padded user_id, buy = even event_id,
amount = value, number_shares = event_id % 1000 + 1. Values are whole cents,
so every expected sum here is an exact integer count of cents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000  # thirty days of events


def make_events(seed, n_events, n_symbols, probe_user=None, n_chunks=None):
    """Events as numpy columns; with `probe_user`, the first `n_chunks` event
    ids (one in every chunk `event_id % n_chunks`) belong to that user."""
    rng = np.random.default_rng(seed)
    event_id = np.arange(n_events, dtype=np.int64)
    ts_us = T0_US + np.sort(rng.integers(0, SPAN_US, n_events))
    user = rng.integers(0, n_symbols, n_events).astype(np.int64)
    if probe_user is not None:
        user[:n_chunks] = probe_user
    cents = np.minimum(rng.exponential(5000.0, n_events).astype(np.int64), 56000)
    return {
        "event_id": event_id,
        "ts_us": ts_us,
        "user": user,
        "cents": cents,
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
        "k": rng.integers(0, 100, n_events),
    }


def write_events(ev, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": pa.array(ev["user"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["cents"] / 100.0, pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in ev["k"]], pa.string()),
    })
    pq.write_table(table, path)


class Prefixes:
    """Per-symbol aggregates of every prefix of the chunk sequence: row p
    holds the aggregate of chunks 0..p-1 (chunk = event_id % n_chunks).
    With one chunk, row 1 is the aggregate of the whole table."""

    def __init__(self, ev, n_symbols, n_chunks=1):
        chunk = ev["event_id"] % n_chunks
        buy = ev["event_id"] % 2 == 0
        shares = ev["event_id"] % 1000 + 1
        cols = {
            "buys": np.where(buy, ev["cents"], 0),
            "sells": np.where(buy, 0, ev["cents"]),
            "shares": shares,
            "events": np.ones_like(shares),
        }
        self.n_chunks = n_chunks
        self.arrays = {}
        for name, vals in cols.items():
            per_chunk = np.zeros((n_chunks, n_symbols), dtype=np.int64)
            np.add.at(per_chunk, (chunk, ev["user"]), vals)
            self.arrays[name] = np.vstack(
                [np.zeros((1, n_symbols), dtype=np.int64), np.cumsum(per_chunk, axis=0)])

    def row(self, p, s):
        """(buys_cents, sells_cents, shares) of symbol index s after prefix p,
        or None when the symbol has no events in it."""
        a = self.arrays
        if a["events"][p, s] == 0:
            return None
        return (int(a["buys"][p, s]), int(a["sells"][p, s]), int(a["shares"][p, s]))
