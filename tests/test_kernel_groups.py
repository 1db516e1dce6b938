"""The Spark side of the DES kernel: ``operators.kernel._simulate_groups``
streams hash-partitioned, sorted groups through one ``mapInPandas`` call
per partition.  Its rows must not depend on the partition count or on
where Arrow batches cut a group, each group must equal a direct
``simulate_events`` call under the documented per-group seed, and the
Python stage must run exactly ``defaultParallelism`` tasks.
"""

from __future__ import annotations

import random
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.kernel import (
    SimParams,
    _simulate_groups,
    simulate,
    simulate_events,
    simulate_sweep,
)

SCHEMA = (
    "tenant string, run long, k int, user_id string, seq long, "
    "sim_arrival_time double, processing_time double"
)
PARAMS = SimParams(
    num_workers=2, queue_mode="priority", priority_bias=0.5,
    num_apis=2, rpm_limit=3, seed=7,
)


def _requests() -> list[dict]:
    """Nine groups over (tenant, run) with a null in each key column, 15
    dense requests each so the queue backs up and every dequeue draws
    from the group's RNG; ``k`` is constant within a group."""
    rng = random.Random(3)
    rows, seq = [], 0
    for tenant in ("a", "b", None):
        for run in (1, 2, None):
            t = 0.0
            for _ in range(15):
                t += rng.choice([0.0, 0.5, 2.0])
                rows.append({
                    "tenant": tenant, "run": run, "k": 1 + (run or 0),
                    "user_id": f"u{seq % 4}", "seq": seq,
                    "sim_arrival_time": t,
                    "processing_time": float(rng.randint(1, 40)),
                })
                seq += 1
    return rows


def _expected(rows, group_cols, params_for, cols) -> dict:
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        groups.setdefault(tuple(r[c] for c in group_cols), []).append(r)
    out = {}
    for key, grows in groups.items():
        params = params_for(grows[0])
        seed = f"{params.seed}|" + "|".join(repr(k) for k in key)
        out[key] = [
            tuple(r.get(c) for c in cols)
            for r in simulate_events(grows, params, rng_seed=seed)
        ]
    return out


def _by_group(res, group_cols) -> dict:
    out: dict[tuple, list[tuple]] = {}
    for r in res.collect():
        out.setdefault(tuple(r[c] for c in group_cols), []).append(tuple(r))
    return out


@pytest.fixture
def tiny_batches(spark):
    """Seven-row Arrow batches, so groups of 15 straddle batch cuts."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("sweep", [False, True], ids=["simulate", "sweep"])
def test_rows_independent_of_partitions_and_batches(spark, tiny_batches, sweep):
    rows = _requests()
    df = spark.createDataFrame([tuple(r.values()) for r in rows], SCHEMA)
    if sweep:
        group_cols = ["k", "tenant"]

        def params_for(row):
            return replace(PARAMS, num_workers=row["k"])
    else:
        group_cols = ["tenant", "run"]

        def params_for(row):
            return PARAMS
    results = {}
    for p in (1, 4, 8, 64):  # 64 partitions leave most of them empty
        res = _simulate_groups(df, group_cols, params_for, partitions=p)
        results[p] = _by_group(res, group_cols)
    expected = _expected(rows, group_cols, params_for, res.columns)
    assert len(expected) == 9
    for p, got in results.items():
        assert got == expected, f"partitions={p}"
    # the public entry points are the same helper at the session's count
    public = (
        simulate_sweep(df, PARAMS, group_cols, {"num_workers": "k"})
        if sweep
        else simulate(df, PARAMS, group_cols=group_cols)
    )
    assert _by_group(public, group_cols) == expected


def test_duplicate_input_column_raises(spark):
    df = spark.createDataFrame([tuple(r.values()) for r in _requests()], SCHEMA)
    dup = df.select("run", "user_id", "seq", "sim_arrival_time",
                    "processing_time", F.col("tenant").alias("user_id"))
    with pytest.raises(ValueError, match="user_id"):
        simulate(dup, PARAMS, group_cols=["run"]).collect()


def test_python_stage_runs_default_parallelism_tasks(spark):
    """A few MB of input: AQE would coalesce a bare groupBy's exchange
    to one partition by bytes; the kernel's fixed repartition keeps one
    Python task per core."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    df = spark.range(100_000).select(
        (F.col("id") % 1000).alias("run_id"),
        F.col("id").cast("string").alias("user_id"),
        F.col("id").alias("seq"),
        F.col("id").cast("double").alias("sim_arrival_time"),
        F.lit(0.5).alias("processing_time"),
    )

    def result_stage_tasks(frame, group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            frame.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        stages = [
            s
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        ]
        return tracker.getStageInfo(max(stages)).numTasks

    params = SimParams(queue_mode="fifo")
    assert result_stage_tasks(simulate(df, params), "kernel-tasks") == slots
    if slots > 1:  # the premise: byte-based coalescing is active here
        bare = df.groupBy("run_id").count()
        assert result_stage_tasks(bare, "kernel-tasks-bare") < slots
