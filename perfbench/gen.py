"""Seeded load generator for the loader workload.

Writes JSON-lines event files in the payload shape the loader parses
(``event_id, ts (epoch us), user_id, event_type, value, props``).  The
events are derived only from the seed and the shape parameters (event
count, hour spread, late share, key skew), so the same seed always gives
byte-identical files.  The system under test receives only the files.
"""

from __future__ import annotations

import os

import numpy as np

HOUR_US = 3_600_000_000
USERS = 100_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
# 2024-01-01T00:00:00Z: the start of every generated event timeline.
EPOCH_US = 1_704_067_200_000_000


def _event_lines(rng: np.random.Generator, ids: np.ndarray, ts: np.ndarray,
                 zipf_a: float) -> list[str]:
    n = len(ids)
    # Zipf-skewed user ids: a few heavy users, a long tail.
    user = (rng.zipf(zipf_a, n) - 1) % USERS
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    cents = rng.integers(1, 49_003, n)
    k = rng.integers(0, 100, n)
    return [
        f'{{"event_id": {i}, "ts": {t}, "user_id": {u}, "event_type": "{e}", '
        f'"value": {c // 100}.{c % 100:02d}, "props": "{{\\"k\\": {kk}}}"}}\n'
        for i, t, u, e, c, kk in zip(
            ids.tolist(), ts.tolist(), user.tolist(), etype.tolist(),
            cents.tolist(), k.tolist()
        )
    ]


def _event_times(rng: np.random.Generator, n: int, newest_hour: int, hours: int,
                late_share: float) -> np.ndarray:
    """Epoch-us timestamps: ``1 - late_share`` of them inside hour
    ``newest_hour`` (hours since ``EPOCH_US``), the rest spread uniformly
    over the ``hours`` hours before it.  ``late_share=1`` spreads every
    event over ``hours`` hours ending with ``newest_hour``."""
    late = rng.random(n) < late_share
    hour = np.where(late, newest_hour - rng.integers(0, hours, n), newest_hour)
    return EPOCH_US + hour * HOUR_US + rng.integers(0, HOUR_US, n)


def write_events(path: str, seed: int, first_id: int, n: int, newest_hour: int,
                 hours: int, late_share: float, zipf_a: float = 1.3) -> np.ndarray:
    """Write one JSON-lines file of ``n`` events with ids
    ``first_id .. first_id + n - 1`` (unique across files, so a loaded
    table can be checked for duplicates).  Returns each event's hour
    (hours since ``EPOCH_US``), the expected partition of its row."""
    rng = np.random.default_rng([seed, first_id])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = _event_times(rng, n, newest_hour, hours, late_share)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.writelines(_event_lines(rng, ids, ts, zipf_a))
    # Atomic arrival: the file source must never list a half-written file.
    os.replace(tmp, path)
    return (ts - EPOCH_US) // HOUR_US


def write_backfill(dir_: str, seed: int, n: int, files: int, hours: int) -> np.ndarray:
    """``n`` events spread evenly over ``hours`` hours, in ``files`` files;
    returns each event's hour."""
    os.makedirs(dir_, exist_ok=True)
    per = -(-n // files)
    return np.concatenate([
        write_events(os.path.join(dir_, f"part-{f:04d}.json"), seed, f * per,
                     min(n, (f + 1) * per) - f * per, newest_hour=hours - 1, hours=hours,
                     late_share=1.0)
        for f in range(files)])
