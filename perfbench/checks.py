"""Output checks, run after the timed region.

* Registered queries are fingerprinted with ``tools/check_oracle.py``'s
  ``frame_fingerprint`` and compared with the fingerprint of the query's
  DuckDB oracle on the same tables.  Oracle fingerprints are cached per
  checkout, keyed on the oracle text and the tables' size and mtime.
* What-if reports are compared with an in-process replay of the kernel
  (``operators.kernel.simulate_events``) over the same CSV.
"""

from __future__ import annotations

import csv
import hashlib
import importlib.util
import json
import math
import os
import sys
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

from perfbench.stats import percentile_linear

REL_TOL = 1e-9
UNIX = datetime(1970, 1, 1, tzinfo=timezone.utc)
MICRO = timedelta(microseconds=1)


class CheckFailed(AssertionError):
    pass


def load_check_oracle(root: Path):
    """Import ``tools/check_oracle.py`` without letting its module-level
    ``sys.path`` edit leak into this process."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracle", root / "tools" / "check_oracle.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.path[:] = saved


class Goldens:
    """Oracle fingerprints ``(rows, columns, hash)`` for one table set."""

    def __init__(self, root: Path, cache: Path, sf_dir: str, tables: list[str]):
        self.fingerprint = load_check_oracle(root).frame_fingerprint
        self.cache = cache
        self.sf_dir = sf_dir
        self.tables = tables
        stamp = sorted(
            (p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for p in Path(sf_dir).rglob("*")
            if p.is_file()
        )
        self.stamp = repr((os.path.abspath(sf_dir), stamp))
        self.known = json.loads(cache.read_text()) if cache.exists() else {}
        self._con = None

    def _key(self, name: str, oracle: str) -> str:
        return hashlib.sha256(f"{name}\0{oracle}\0{self.stamp}".encode()).hexdigest()

    def expected(self, name: str, oracle: str) -> list:
        key = self._key(name, oracle)
        if key not in self.known:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                for t in self.tables:
                    self._con.sql(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')"
                    )
            rel = self._con.sql(oracle)
            self.known[key] = list(self.fingerprint(rel.columns, rel.fetchall()))
            self.cache.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.cache.with_suffix(f".tmp{os.getpid()}")
            tmp.write_text(json.dumps(self.known, indent=1, sort_keys=True))
            os.replace(tmp, self.cache)
        return self.known[key]

    def check(self, name: str, oracle: str, columns: list[str], rows: list[tuple]) -> None:
        got = list(self.fingerprint(columns, rows))
        want = self.expected(name, oracle)
        if got != want:
            raise CheckFailed(f"{name}: spark {got} != oracle {want}")

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ------------------------------------------------------------ report replay


def read_log(path: Path) -> dict[str, list[dict]]:
    """The CSV as the pipeline sees it: per tenant, rows in arrival order
    with ``sim_arrival_time`` = epoch seconds − the reference epoch."""
    from queue_system_simulator_spark.schema import REFERENCE_EPOCH

    epoch = datetime.fromisoformat(REFERENCE_EPOCH).timestamp()
    by_user: dict[str, list[tuple]] = {}
    with open(path, newline="") as fh:
        for pos, rec in enumerate(csv.DictReader(fh)):
            micros = (datetime.fromisoformat(rec["request_time"]) - UNIX) // MICRO
            by_user.setdefault(rec["user_id"], []).append(
                (micros / 1e6 - epoch, pos, float(rec["processing_time"]))
            )
    out = {}
    for user, rows in by_user.items():
        rows.sort()
        out[user] = [
            {"user_id": user, "seq": i + 1, "sim_arrival_time": t, "processing_time": p}
            for i, (t, _pos, p) in enumerate(rows)
        ]
    return out


def replay_report(
    log: dict[str, list[dict]], num_workers: int, queue_mode: str, queue_size: int | None
) -> tuple[dict, float]:
    """Expected report statistics and the kernel's in-process self time.

    Each tenant is simulated with the pipeline's parameters and its
    per-group seed ``"<seed>|<repr(tenant)>"``."""
    from queue_system_simulator_spark.operators.kernel import (
        REJECTED,
        SimParams,
        simulate_events,
    )
    from queue_system_simulator_spark.operators.statistics import NUM_EXTERNAL_APIS

    params = SimParams(
        num_workers=num_workers, queue_mode=queue_mode, queue_max_size=queue_size
    )
    done: list[dict] = []
    t0 = time.perf_counter()
    for user, rows in log.items():
        done.extend(simulate_events(rows, params, rng_seed=f"{params.seed}|{user!r}"))
    self_s = time.perf_counter() - t0

    processed = [r for r in done if r["finish_processing_time_by_worker"] != REJECTED]
    waits = [
        r["start_processing_time_by_worker"] - r["arrival_time_in_queue"]
        for r in processed
        if r["start_processing_time_by_worker"] >= 0
        and r["arrival_time_in_queue"] >= 0
        and r["start_processing_time_by_worker"] >= r["arrival_time_in_queue"]
    ]
    expected = {
        "processed": len(processed),
        "rejected": len(done) - len(processed),
        "avg_queuing_time": sum(waits) / len(waits) if waits else math.nan,
        "api": {
            f"api_{i}": sum(1 for r in processed if r["used_api_id"] == i)
            for i in range(1, NUM_EXTERNAL_APIS + 1)
        },
    }
    for p, q in (("p50", 0.5), ("p75", 0.75), ("p90", 0.9), ("p99", 0.99)):
        expected[p] = percentile_linear(waits, q) if waits else math.nan
    return expected, self_s


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def check_report(name: str, expected: dict, scalar: dict, api: dict[str, int]) -> None:
    bad = [
        k for k in ("processed", "rejected") if scalar[k] != expected[k]
    ] + [
        k for k in ("avg_queuing_time", "p50", "p75", "p90", "p99")
        if not _close(float(scalar[k]), expected[k])
    ]
    if api != expected["api"]:
        bad.append("api counts")
    if bad:
        raise CheckFailed(f"{name}: {', '.join(bad)} differ from the in-process replay")
