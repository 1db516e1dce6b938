"""Build-once fixture store for derived tables (versioned lakes, stream
splits, stream links).

One directory per (kind, resolved ``sf_dir``, build parameters) under
``<tempdir>/qss_spark_fixtures``, rebuilt in place when the source table
changes.  The directory holds a ``_BUILT`` stamp carrying a fingerprint of
the build parameters and of every data file under
``<sf_dir>/events.parquet`` (name, ``mtime_ns``, size): test data is
regenerated between rounds, so a path-only key would serve a stale build
while the oracle reads the fresh table.

A caller whose stamp matches returns without opening, locking or writing
anything, so concurrent graders and bench samples in any process, from any
working directory, read one build.  A mismatch takes an exclusive ``flock``
on ``<dir>.lock``, re-checks the stamp (another process may have just
built it), then wipes the directory, runs ``build`` and writes the stamp
last: a crashed build leaves no stamp and the next caller rebuilds.  The
stamp is ``_``-prefixed, so Spark file sources reading the directory
ignore it.  A build whose stored layout changes takes a new ``kind``.
"""

from __future__ import annotations

import fcntl
import hashlib
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path


def fixture_dir(kind: str, sf_dir: str, params: tuple) -> str:
    """The build directory of ``kind`` for the tables in ``sf_dir``."""
    src = Path(sf_dir).resolve()
    tag = hashlib.sha1(repr((str(src), params)).encode()).hexdigest()[:10]
    return str(
        Path(tempfile.gettempdir())
        / "qss_spark_fixtures"
        / kind
        / f"{src.name}_{tag}"
    )


def _fingerprint(sf_dir: str, params: tuple) -> str:
    src = Path(sf_dir) / "events.parquet"
    stats = sorted(
        (q.name, st.st_mtime_ns, st.st_size)
        for q in (src.rglob("*") if src.is_dir() else [src])
        if q.is_file()
        for st in [q.stat()]
    )
    return hashlib.md5(repr((params, stats)).encode()).hexdigest()


def _stamped(stamp: Path, fp: str) -> bool:
    try:
        return stamp.read_text() == fp
    except OSError:  # no build yet, or the stamp vanished mid-rebuild
        return False


def build_once(
    kind: str, sf_dir: str, params: tuple, build: Callable[[str], None]
) -> str:
    """Return :func:`fixture_dir`, first running ``build(dir)`` into an
    empty (absent) directory unless a build of the current source and
    ``params`` is already stamped there."""
    d = fixture_dir(kind, sf_dir, params)
    fp = _fingerprint(sf_dir, params)
    stamp = Path(d) / "_BUILT"
    if _stamped(stamp, fp):
        return d
    Path(d).parent.mkdir(parents=True, exist_ok=True)
    with open(d + ".lock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)  # released when the file closes
        if not _stamped(stamp, fp):
            shutil.rmtree(d, ignore_errors=True)
            build(d)
            stamp.write_text(fp)
    return d
