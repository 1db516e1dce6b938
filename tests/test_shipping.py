"""Package-defined UDFs must unpickle on workers for ANY driver cwd.

The driver harness builds its own SparkSession and may run from any
directory; sys.path edits on the driver do not reach Python workers, so
without `shipping.ensure_shipped` every applyInPandas/mapInPandas closure
defined in this package dies with ModuleNotFoundError on the worker.
The in-process test session runs from the repo root (where cwd inheritance
masks the bug), so this spawns a subprocess with cwd=/tmp.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
import queue_system_simulator_spark.plans  # populate registry
from queue_system_simulator_spark.plans.registry import QUERIES

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
n = QUERIES["kernel_fifo_k1"].build(spark, "/root/testdata/sf0.001").count()
assert n == 1000, n
print("SHIPPED_OK")
"""


def test_pandas_udf_queries_survive_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=str(ROOT))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        # full env (workers must resolve the same python w/ pandas); the
        # bug under test is cwd-dependence, so only cwd differs. Pin the
        # worker python explicitly so a PATH-different shell can't skew it.
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert "SHIPPED_OK" in proc.stdout, proc.stderr[-2000:]
