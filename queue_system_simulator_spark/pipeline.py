"""End-to-end pipeline: the engine's equivalent of the reference CLI
``python main.py <csv> [-w N] [-q M]`` (``/root/reference/main.py:17-159``).

Stages (SURVEY §3.1): scan/validate → epoch-relative arrival derivation →
DES kernel → one aggregate of every report statistic (input and pre-epoch
counts, G1–G5) → empty guard → console rendering (NaN→"N/A", api counts
key-sorted); the sentinel-aware ordered timeline stays lazy.

A report is one pass: ``run_pipeline`` collects the one-row aggregate of
``statistics.report_statistics`` — the only Spark action, so the kernel
runs once — and hands back its statistics as driver-local frames, whose
collects in ``render_report`` start no Spark job.

A reference user switches by calling ``run_pipeline(spark, csv_path)`` —
same semantics, but every stage before/after the kernel is a distributed
DataFrame op, and the kernel itself runs the independent simulations in
parallel when ``run_col`` is provided (the scale axis the single-process
reference lacks).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.operators.kernel import SimParams, simulate
from queue_system_simulator_spark.operators.statistics import (
    NUM_EXTERNAL_APIS,
    report_statistics,
)
from queue_system_simulator_spark.operators.transforms import (
    result_order,
    with_sim_arrival_time,
)
from queue_system_simulator_spark.schema import REFERENCE_EPOCH
from queue_system_simulator_spark.sources.csv_source import (
    REQUIRED_COLUMNS,
    read_requests_csv,
)


@dataclass
class PipelineResult:
    timeline: DataFrame | None  # ordered per-request lifecycle (D2 order)
    scalar_stats: DataFrame | None  # one-row G1-G3+G5 frame
    api_counts: DataFrame | None  # long-format zero-filled G4 frame
    negative_arrivals: int
    input_rows: int

    @property
    def empty(self) -> bool:
        return self.input_rows == 0


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    num_workers: int = 1,
    queue_size: int | None = None,
    queue_mode: str = "priority",
    seed: int = 42,
    epoch: str = REFERENCE_EPOCH,
    run_col: str | None = None,
) -> PipelineResult:
    """Scan → simulate → aggregate, reference semantics end to end.

    ``queue_size`` is honoured only in ``fifo`` mode — in priority mode it
    is accepted and ignored, the reference's dead-config quirk
    (SURVEY §2 quirk 1, ``/root/reference/src/simulator.py:47-53``).
    ``run_col`` names one of the columns the reader keeps
    (``csv_source.REQUIRED_COLUMNS``; extra CSV columns are pruned at
    scan) that partitions the input into independent simulations
    (scenario sweep); None = one global run like the CLI.
    """
    if run_col is not None and run_col not in REQUIRED_COLUMNS:
        raise ValueError(
            f"run_col={run_col!r} is not a column the request reader keeps; "
            f"supported: {', '.join(REQUIRED_COLUMNS)}"
        )
    df = read_requests_csv(spark, csv_path)
    # Capture file position at scan time: the reference preserves CSV input
    # order via a *stable* arrival sort (/root/reference/src/simulator.py:41),
    # so duplicate (arrival, user) rows need a deterministic tiebreaker or
    # ``seq`` — and with it the simulated timeline — changes across runs and
    # task retries.  monotonically_increasing_id() over a deterministic scan
    # split encodes (partition, offset) and is stable for a given file.
    df = df.withColumn("__input_pos", F.monotonically_increasing_id())
    df = with_sim_arrival_time(df, epoch)

    group_cols = [run_col] if run_col else ["__run"]
    if not run_col:
        df = df.withColumn("__run", F.lit(0))
    df = df.withColumn(
        "seq",
        F.row_number().over(
            Window.partitionBy(*group_cols).orderBy(
                "sim_arrival_time", "user_id", "__input_pos"
            )
        ),
    )
    params = SimParams(
        num_workers=num_workers, queue_mode=queue_mode, queue_max_size=queue_size,
        seed=seed,
    )
    cols = dict.fromkeys(
        [*group_cols, "user_id", "seq", "sim_arrival_time", "processing_time"]
    )
    timeline = simulate(
        df.select(*cols),
        params,
        group_cols=group_cols,
    )
    if not run_col:
        timeline = timeline.drop("__run")
    stats = report_statistics(timeline, NUM_EXTERNAL_APIS)
    row = stats.collect()[0]
    if row["input_rows"] == 0:  # header-only/empty file → exit path (main.py:45-49)
        return PipelineResult(None, None, None, 0, 0)
    scalar = local_df(
        spark, [tuple(row["scalar_stats"])], stats.schema["scalar_stats"].dataType
    )
    api = local_df(
        spark,
        [(i, f"api_{i}", n) for i, n in enumerate(row["api_usage"], start=1)],
        "api_id int, api_key string, usage_count long",
    )
    return PipelineResult(
        result_order(timeline),
        scalar,
        api,
        row["negative_arrivals"],
        row["input_rows"],
    )


def _fmt(v) -> str:
    """NaN/null → "N/A" like the reference's renderer (main.py:123-138)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "N/A"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def render_report(result: PipelineResult) -> list[str]:
    """Console-report lines (A7): scalar stats then api counts key-sorted."""
    if result.empty:
        return ["no requests parsed — nothing to simulate"]
    s = result.scalar_stats.collect()[0].asDict()
    lines = [
        f"total requests: {result.input_rows}",
        f"requests with pre-epoch timestamps: {result.negative_arrivals}",
        f"processed: {_fmt(s['processed'])}",
        f"rejected: {_fmt(s['rejected'])}",
        f"average queuing time: {_fmt(s['avg_queuing_time'])}",
    ]
    for p in ("p50", "p75", "p90", "p99"):
        lines.append(f"queuing time {p}: {_fmt(s[p])}")
    lines.append(
        f"priority queue enqueued: {_fmt(s['priority_queue_enqueued_total'])}"
    )
    lines.append(f"normal queue enqueued: {_fmt(s['normal_queue_enqueued_total'])}")
    for row in sorted(result.api_counts.collect(), key=lambda r: r["api_id"]):
        lines.append(f"{row['api_key']}: {row['usage_count']}")
    return lines
