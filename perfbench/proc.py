"""Process-tree memory sampling from ``/proc`` (``psutil`` is not installed)."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict[int, int]:
    parents: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # exited between listing and reading
            continue
        # field 4 (ppid) follows the parenthesised command name
        parents[int(d.name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parents


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRssSampler:
    """Samples the summed RSS of this process tree (driver, JVM, Python
    workers) every ``INTERVAL_S`` on a background thread and keeps the
    peak."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def __exit__(self, *exc) -> None:
        self.stop()
