"""Ship this package to Spark's Python workers.

Functions passed to ``applyInPandas`` / ``mapInPandas`` / pandas UDFs are
pickled BY REFERENCE when they live in an importable module: the worker
re-imports ``queue_system_simulator_spark.…`` at unpickle time.  That works
only if the package is importable on the worker — true when the driver
process happens to run with the repo root as cwd (the worker daemon inherits
the cwd, and ``python -m pyspark.daemon`` puts cwd on ``sys.path``), and
false for any other caller, e.g. a harness that did
``sys.path.insert(0, <repo root>)`` from elsewhere: ``sys.path`` edits on
the driver do not propagate to workers.

The portable fix (the same mechanism a real cluster deployment would use to
ship an un-installed package): zip the package once per process and
``SparkContext.addPyFile`` it — Spark distributes the zip and prepends it
to every Python worker's ``sys.path``, for executors that joined at any
time.  Idempotent and cheap (<100 KB zip, built once), safe to call from
every query builder.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)
_zip_path: str | None = None


def _build_zip() -> str:
    """Zip the package source (once per process) for addPyFile."""
    global _zip_path
    if _zip_path is not None and os.path.exists(_zip_path):
        return _zip_path
    fd, path = tempfile.mkstemp(prefix=f"{_PKG_NAME}_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    _PKG_NAME, os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    _zip_path = path
    return path


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable on ``spark``'s Python workers.

    No-op after the first call per SparkContext (guarded by a context
    attribute, surviving session re-use across queries).
    """
    sc = spark.sparkContext
    if getattr(sc, "_qss_pkg_shipped", False):
        return
    sc.addPyFile(_build_zip())
    sc._qss_pkg_shipped = True
