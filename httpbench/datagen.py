"""Deterministic events table for the TSD request-path benchmark.

The benchmark reads and writes only inside its own checkout, so it builds
its base data here instead of reading a shared testdata directory. The
table has the shape of the repository's `sf<scale>` `events` table
(TESTDATA.md): `1e6 * scale` events over 2024-01-01..2024-01-30,
`15000 * scale` users, five event types, exponential values with mean 50
rounded to cents, and a `{"k": n}` props blob. `load_points` maps it to
metric = event_type, tags = {user, k, big}.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
METRICS = ("signup", "purchase", "view", "click", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000
END_S = (START_US + SPAN_US) // 1_000_000  # first second after the data


def n_users(scale: float) -> int:
    return max(1, round(15_000 * scale))


def write_events(path: str, scale: float) -> None:
    """Write `events.parquet` under `path` (the `--sf-dir` layout)."""
    n = max(1, round(1_000_000 * scale))
    rng = np.random.default_rng(DATA_SEED)
    ts = np.sort(START_US + rng.integers(0, SPAN_US, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users(scale), n), type=pa.int64()),
        "event_type": pa.array(np.array(METRICS)[rng.integers(0, len(METRICS), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "events.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, "events.parquet"))


def ensure_events(root: str, scale: float) -> str:
    """Return the sf directory for `scale`, generating it on first use."""
    path = os.path.join(root, f"sf{scale:g}")
    if not os.path.exists(os.path.join(path, "events.parquet")):
        write_events(path, scale)
    return path
