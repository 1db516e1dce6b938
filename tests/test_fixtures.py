"""The build-once fixture store (``fixtures.build_once``), with plain
Python builds and no Spark: one build under a cross-process race, zero
writes from a second process in a foreign working directory, no stamp
after a failed build — plus a guard that no other module hand-rolls the
protocol."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from queue_system_simulator_spark.fixtures import build_once, fixture_dir

REPO = Path(__file__).resolve().parents[1]

#: One ``build_once`` call in a fresh interpreter.  argv: tempdir,
#: sf_dir, build log, start gate.  The build appends its pid to the log
#: and sleeps, so a second process arriving meanwhile must wait on the
#: lock and then find the stamp.
_CALLER = """
import os, sys, tempfile, time
tempfile.tempdir = sys.argv[1]
from queue_system_simulator_spark.fixtures import build_once

def build(d):
    os.makedirs(d)
    with open(sys.argv[3], "a") as f:
        f.write(f"{os.getpid()}\\n")
    time.sleep(0.5)
    with open(os.path.join(d, "data.txt"), "w") as f:
        f.write("built")

while not os.path.exists(sys.argv[4]):
    time.sleep(0.01)
print(build_once("toy", sys.argv[2], (3, "x"), build))
"""


def _spawn(tmp: Path, sf_dir: str, cwd: Path) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _CALLER, str(tmp / "store"), sf_dir,
         str(tmp / "builds.log"), str(tmp / "go")],
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        stdout=subprocess.PIPE,
        text=True,
    )


def _finish(proc: subprocess.Popen) -> str:
    out, _ = proc.communicate(timeout=120)
    assert proc.returncode == 0
    return out.strip()


def _snapshot(root: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p): (p.lstat().st_mtime_ns, p.lstat().st_ino)
        for p in [root, *root.rglob("*")]
    }


@pytest.fixture
def sf(tmp_path):
    sf_dir = tmp_path / "tables" / "sfT"
    sf_dir.mkdir(parents=True)
    (sf_dir / "events.parquet").write_bytes(b"rows")
    (tmp_path / "store").mkdir()
    return sf_dir


def test_racing_processes_build_once(tmp_path, sf):
    procs = [_spawn(tmp_path, str(sf), tmp_path) for _ in range(2)]
    (tmp_path / "go").touch()
    dirs = {_finish(p) for p in procs}
    assert len(dirs) == 1
    assert len((tmp_path / "builds.log").read_text().split()) == 1
    assert (Path(dirs.pop()) / "data.txt").read_text() == "built"


def test_foreign_cwd_relative_sf_dir_reuses_without_writes(tmp_path, sf):
    (tmp_path / "go").touch()
    built = _finish(_spawn(tmp_path, str(sf), tmp_path))
    before = _snapshot(tmp_path / "store")
    assert built + ".lock" in before
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    rel = os.path.relpath(sf, elsewhere)
    assert _finish(_spawn(tmp_path, rel, elsewhere)) == built
    assert _snapshot(tmp_path / "store") == before
    assert len((tmp_path / "builds.log").read_text().split()) == 1


def test_failed_build_leaves_no_stamp_and_next_call_rebuilds(
    tmp_path, sf, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "store"))
    d = fixture_dir("toy", str(sf), ())

    def crash(path):
        os.makedirs(path)
        Path(path, "partial.txt").write_text("half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        build_once("toy", str(sf), (), crash)
    assert not Path(d, "_BUILT").exists()

    def build(path):
        os.makedirs(path)
        Path(path, "data.txt").write_text("built")

    assert build_once("toy", str(sf), (), build) == d
    assert sorted(p.name for p in Path(d).iterdir()) == ["_BUILT", "data.txt"]


def test_only_the_fixture_store_locks_and_no_hardcoded_tmp():
    pkg = REPO / "queue_system_simulator_spark"
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        assert not re.search(r"[\"']/tmp", src), f
        if f.name != "fixtures.py":
            assert "fcntl.flock" not in src, f
    assert "fcntl.flock" in (pkg / "fixtures.py").read_text()
