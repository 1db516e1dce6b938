"""Seeded input generators: request-log CSVs and lake event tables.

The same ``(seed, tag)`` always yields byte-identical files; the program
under test only ever sees the written files.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The engine's request-log epoch (``schema.REFERENCE_EPOCH``).
EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)
#: Per-tenant offered load at one worker, assigned round-robin then shuffled:
#: under-loaded, near-saturated and over-loaded tenants give short, long and
#: growing backlogs, and backlog depth sets the kernel's cost.
LOADS = (0.5, 0.9, 1.5)
#: Mean of the reference generator's U(1, 10) s processing time and of its
#: U(0.1, 1.0) s inter-arrival gap.
MEAN_SERVICE_S = 5.5
MEAN_GAP_S = 0.55
LAKE_EVENT_TYPES = ("view", "click", "purchase", "error")
LAKE_EVENT_WEIGHTS = (0.5, 0.3, 0.15, 0.05)


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def request_log_csv(seed: int, tag: int, n_tenants: int, n_rows: int) -> str:
    """A request log in the reference generator's shape: each row picks a
    tenant uniformly, and each tenant's arrivals accumulate inter-arrival
    gaps U(0.1, 1.0) s (1 ms lattice) scaled to the tenant's load;
    processing time is round(U(1, 10), 1) s."""
    rng = _rng(seed, tag)
    loads = np.array([LOADS[i % len(LOADS)] for i in range(n_tenants)])
    rng.shuffle(loads)
    users = rng.integers(0, n_tenants, size=n_rows)
    gaps_ms = rng.integers(100, 1001, size=n_rows)
    proc_ds = rng.integers(10, 101, size=n_rows)
    scale = MEAN_SERVICE_S / (loads * MEAN_GAP_S)
    clock_ms = np.zeros(n_tenants, dtype=np.int64)
    lines = ["user_id,request_time,processing_time"]
    for u, g, p in zip(users.tolist(), gaps_ms.tolist(), proc_ds.tolist()):
        clock_ms[u] += int(round(g * scale[u]))
        ts = EPOCH + timedelta(milliseconds=int(clock_ms[u]))
        lines.append(
            f"t{u:04d},{ts.strftime('%Y-%m-%dT%H:%M:%S.%f')}Z,{p // 10}.{p % 10}"
        )
    return "\n".join(lines) + "\n"


def lake_events(seed: int, tag: int, n_events: int, n_users: int) -> pa.Table:
    """Events in the versioned sink's input shape (``user_id, tus,
    event_id, event_type, value_centi``) over 30 days of event time."""
    rng = _rng(seed, tag)
    base_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    span_us = 30 * 86_400 * 1_000_000
    types = rng.choice(len(LAKE_EVENT_TYPES), size=n_events, p=LAKE_EVENT_WEIGHTS)
    return pa.table(
        {
            "user_id": pa.array(rng.integers(1, n_users + 1, size=n_events), pa.int64()),
            "tus": pa.array(base_us + rng.integers(0, span_us, size=n_events), pa.int64()),
            "event_id": pa.array(np.arange(1, n_events + 1), pa.int64()),
            "event_type": pa.array([LAKE_EVENT_TYPES[t] for t in types.tolist()]),
            "value_centi": pa.array(rng.integers(0, 100_000, size=n_events), pa.int64()),
        }
    )


def write_text(path: Path, text: str) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)
    return path


def write_parquet(path: Path, table: pa.Table) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path
