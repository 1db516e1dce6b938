"""End-to-end pipeline on the reference's sample workload shape.

Runs the engine's CLI-equivalent on a 25-row, 5-user request log written
by the engine's seeded port of the reference generator
(``sources.generator.generate_sample_requests``, the distribution behind
the reference's shipped ``sample_requests.csv``) and asserts the same
externally-observable outcomes the reference's e2e test pins (all 25
complete, none rejected; reference ``tests/test_simulator.py:136-213``),
plus renderer and empty-input behavior.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.kernel import (
    REJECTED,
    SimParams,
    simulate_events,
)
from queue_system_simulator_spark.operators.transforms import with_sim_arrival_time
from queue_system_simulator_spark.pipeline import render_report, run_pipeline
from queue_system_simulator_spark.schema import REFERENCE_EPOCH
from queue_system_simulator_spark.sources.csv_source import read_requests_csv
from queue_system_simulator_spark.sources.generator import (
    ISO_Z_SPARK,
    generate_sample_requests,
)


@pytest.fixture(scope="module")
def sample_csv(spark, tmp_path_factory):
    """The generator's 25-row, 5-user log as the CLI's CSV input."""
    rows = (
        generate_sample_requests(spark, 5, 5, seed=42)
        .select(
            "user_id",
            F.date_format("request_time", ISO_Z_SPARK).alias("request_time"),
            "processing_time",
        )
        .collect()
    )
    p = tmp_path_factory.mktemp("pipeline") / "sample_requests.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        + "".join(f"{r[0]},{r[1]},{r[2]}\n" for r in rows)
    )
    return str(p)


def test_sample_workload_completes(spark, sample_csv):
    res = run_pipeline(spark, sample_csv, num_workers=1)
    assert res.input_rows == 25
    assert res.negative_arrivals == 0
    s = res.scalar_stats.collect()[0]
    assert s.processed == 25 and s.rejected == 0
    assert (
        s.priority_queue_enqueued_total + s.normal_queue_enqueued_total == 25
    )
    tl = res.timeline.collect()
    assert len(tl) == 25
    # D2 ordering: finish ascending (no rejects here)
    finishes = [r.finish_processing_time_by_worker for r in tl]
    assert finishes == sorted(finishes)
    # api usage totals: every processed request used some api (no limiter
    # pressure at this load), zero-filled to the 5-API domain
    api = {r.api_key: r.usage_count for r in res.api_counts.collect()}
    assert set(api) == {f"api_{i}" for i in range(1, 6)}
    assert sum(api.values()) == 25


def test_more_workers_never_increase_queuing(spark, sample_csv):
    r1 = run_pipeline(spark, sample_csv, num_workers=1)
    r4 = run_pipeline(spark, sample_csv, num_workers=4)
    q1 = r1.scalar_stats.collect()[0].avg_queuing_time
    q4 = r4.scalar_stats.collect()[0].avg_queuing_time
    assert q4 <= q1 + 1e-12


def test_render_report_shape(spark, sample_csv):
    res = run_pipeline(spark, sample_csv)
    lines = render_report(res)
    assert lines[0] == "total requests: 25"
    assert any(line.startswith("api_5:") for line in lines)


def test_empty_csv_short_circuits(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("user_id,request_time,processing_time\n")
    res = run_pipeline(spark, str(p))
    assert res.empty
    assert render_report(res) == ["no requests parsed — nothing to simulate"]


def test_fifo_bounded_mode_rejects_and_renders_nan_safe(spark, tmp_path):
    # burst of simultaneous arrivals against a 1-slot queue, 1 worker
    rows = ["user_id,request_time,processing_time"] + [
        f"user_a,2023-01-01T00:00:00Z,{5.0 + i}" for i in range(6)
    ]
    p = tmp_path / "burst.csv"
    p.write_text("\n".join(rows) + "\n")
    res = run_pipeline(spark, str(p), queue_mode="fifo", queue_size=1)
    s = res.scalar_stats.collect()[0]
    assert s.rejected > 0 and s.processed + s.rejected == 6
    assert not math.isnan(s.avg_queuing_time)
    assert render_report(res)  # renders without error


def test_run_col_scenario_sweep(spark, tmp_path):
    # run_col partitions the log into independent simulations: per-user
    # FIFO queues never interact, so each user's timeline is the
    # single-user closed form
    rows = ["user_id,request_time,processing_time"]
    for u in ("a", "b"):
        for i in range(4):
            rows.append(f"user_{u},2023-01-01T00:00:0{i}Z,10.0")
    p = tmp_path / "two_runs.csv"
    p.write_text("\n".join(rows) + "\n")
    res = run_pipeline(
        spark, str(p), queue_mode="fifo", run_col="user_id", num_workers=1
    )
    tl = res.timeline.collect()
    assert len(tl) == 8
    by_user = {}
    for r in tl:
        by_user.setdefault(r.user_id, []).append(r)
    for u, urows in by_user.items():
        urows.sort(key=lambda r: r.sim_arrival_time)
        prev_finish = None
        for i, r in enumerate(urows):
            expected_start = (
                r.sim_arrival_time
                if i == 0
                else max(r.sim_arrival_time, prev_finish)
            )
            assert r.start_processing_time_by_worker == expected_start
            prev_finish = r.finish_processing_time_by_worker


def test_run_col_outside_reader_columns_fails_at_call(spark, tmp_path):
    # the reader keeps only the required columns, so an extra CSV column
    # cannot partition the runs: reject it before any Spark job starts
    p = tmp_path / "tenants.csv"
    p.write_text(
        "user_id,request_time,processing_time,tenant\n"
        "user_a,2023-01-01T00:00:00Z,5.0,t1\n"
    )
    with pytest.raises(ValueError, match="user_id, request_time, processing_time"):
        run_pipeline(spark, str(p), run_col="tenant")


def test_duplicate_arrival_rows_get_stable_seq(spark, tmp_path):
    # Two users sharing identical (request_time, user_id) pairs: seq must be
    # a total order anchored to file position, so repeated runs produce the
    # identical timeline (the reference's stable arrival sort preserves CSV
    # input order, /root/reference/src/simulator.py:41).
    p = tmp_path / "dups.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        + "".join(
            f"user_{i % 2},2023-01-01T00:00:05Z,{3.0 + i}\n" for i in range(6)
        )
    )
    runs = [run_pipeline(spark, str(p)) for _ in range(2)]
    timelines = [
        [
            (r.user_id, r.processing_time, r.start_processing_time_by_worker)
            for r in res.timeline.collect()
        ]
        for res in runs
    ]
    assert timelines[0] == timelines[1]
    # per-row service times differ, so a deterministic seq fixes which row
    # starts first: the file's first row (proc=3.0) must be served first.
    assert timelines[0][0][1] == 3.0


def test_run_col_user_id_simulates_each_user(spark, sample_csv):
    # user_id is both the run column and a kernel input column: the kernel
    # must see it once, one independent simulation per user
    res = run_pipeline(spark, sample_csv, run_col="user_id")
    s = res.scalar_stats.collect()[0]
    assert s.processed == 25 and s.rejected == 0
    assert len({r.user_id for r in res.timeline.collect()}) == 5


# ------------------------------------------------------------ one pass


def _final_plan(description: str) -> str:
    """The executed (AQE final) part of a formatted plan description."""
    return description.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]


def _plans_of_group(spark, group: str) -> tuple[list[int], list[str]]:
    """Job ids of a job group and the final physical plans of the SQL
    executions that ran them."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(executions.size()):
        execution = executions.apply(i)
        ids = execution.jobs().keySet().toSeq()
        if {ids.apply(j) for j in range(ids.size())} & set(jobs):
            plans.append(_final_plan(execution.physicalPlanDescription()))
    return jobs, plans


def test_report_runs_the_kernel_once_and_renders_without_jobs(spark, sample_csv):
    sc = spark.sparkContext
    try:
        sc.setJobGroup("one_pass_run", "run_pipeline")
        res = run_pipeline(spark, sample_csv, num_workers=2)
        sc.setJobGroup("one_pass_render", "render_report")
        lines = render_report(res)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lines[0] == "total requests: 25"
    _, plans = _plans_of_group(spark, "one_pass_run")
    python_plans = [p for p in plans if "MapInPandas" in p]
    # one job chain runs the kernel, and runs it once
    assert len(python_plans) == 1
    assert python_plans[0].count("MapInPandas") == 1
    render_jobs, _ = _plans_of_group(spark, "one_pass_render")
    assert render_jobs == []


EPOCH = datetime.fromisoformat(REFERENCE_EPOCH)
UNIX = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _write_log(path, rows) -> str:
    """``rows``: (user, milliseconds after the epoch, processing seconds)."""
    path.write_text(
        "user_id,request_time,processing_time\n"
        + "".join(
            f"{u},{(EPOCH + timedelta(milliseconds=ms)):%Y-%m-%dT%H:%M:%S.%f}Z,{p}\n"
            for u, ms, p in rows
        )
    )
    return str(path)


def _replay(rows, k: int, mode: str, bound: int | None) -> dict:
    """The report of one global run, computed in process: the pipeline's
    arrival times, seq order and group seed, then ``simulate_events``,
    then numpy's linear percentiles."""
    epoch_us = (EPOCH - UNIX) // timedelta(microseconds=1)
    events = sorted(
        ((epoch_us + ms * 1000) / 1e6 - epoch_us / 1e6, u, pos, p)
        for pos, (u, ms, p) in enumerate(rows)
    )
    reqs = [
        {"user_id": u, "seq": i + 1, "sim_arrival_time": t, "processing_time": p}
        for i, (t, u, _, p) in enumerate(events)
    ]
    params = SimParams(num_workers=k, queue_mode=mode, queue_max_size=bound)
    done = simulate_events(reqs, params, rng_seed=f"{params.seed}|0")
    processed = [r for r in done if r["finish_processing_time_by_worker"] != REJECTED]
    waits = [
        r["start_processing_time_by_worker"] - r["arrival_time_in_queue"]
        for r in processed
        if r["start_processing_time_by_worker"] >= 0
        and r["arrival_time_in_queue"] >= 0
        and r["start_processing_time_by_worker"] >= r["arrival_time_in_queue"]
    ]
    pcts = np.percentile(waits, [50, 75, 90, 99]) if waits else [math.nan] * 4
    return {
        "input_rows": len(rows),
        "negative_arrivals": sum(1 for r in reqs if r["sim_arrival_time"] < 0),
        "processed": len(processed),
        "rejected": len(done) - len(processed),
        "avg_queuing_time": float(np.mean(waits)) if waits else math.nan,
        **dict(zip(("p50", "p75", "p90", "p99"), map(float, pcts))),
        "priority_queue_enqueued_total": sum(
            1 for r in processed if r["processing_time"] < 20.0
        ),
        "normal_queue_enqueued_total": sum(
            1 for r in processed if r["processing_time"] >= 20.0
        ),
        "api": {f"api_{i}": sum(1 for r in processed if r["used_api_id"] == i)
                for i in range(1, 6)},
        "api_failures": sum(1 for r in processed if r["used_api_id"] is None),
    }


def _report(res) -> dict:
    s = res.scalar_stats.collect()[0].asDict()
    return {
        "input_rows": res.input_rows,
        "negative_arrivals": res.negative_arrivals,
        **s,
        "api": {r["api_key"]: r["usage_count"] for r in res.api_counts.collect()},
    }


def _assert_report(got: dict, want: dict) -> None:
    for key, value in want.items():
        if key == "api_failures":
            continue
        if isinstance(value, float):
            assert math.isclose(got[key], value, rel_tol=1e-12) or (
                math.isnan(got[key]) and math.isnan(value)
            ), key
        else:
            assert got[key] == value, key


# three users, pre-epoch arrivals, both priority classes
_MIXED = [
    (f"user_{random.Random(i).randrange(3)}", -4000 + 1500 * i + 7 * (i % 5),
     round(random.Random(100 + i).uniform(1, 10), 1) if i % 3 else 20.0 + i)
    for i in range(40)
]


@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize(
    "mode, bound", [("priority", None), ("fifo", None), ("fifo", 1)]
)
def test_report_equals_in_process_replay(spark, tmp_path, k, mode, bound):
    path = _write_log(tmp_path / "mixed.csv", _MIXED)
    want = _replay(_MIXED, k, mode, bound)
    assert want["negative_arrivals"] > 0
    if bound == 1:
        assert want["rejected"] > 0  # the bounded queue really rejects
    res = run_pipeline(spark, path, num_workers=k, queue_size=bound, queue_mode=mode)
    _assert_report(_report(res), want)


def test_report_skips_failed_api_calls(spark, tmp_path):
    # 330 short requests inside 4 s exhaust 5 APIs x 60 rpm: the failed
    # calls are processed with a null used_api_id and count in no api_i
    rows = [("user_a", 12 * i, 0.01) for i in range(330)]
    path = _write_log(tmp_path / "burst.csv", rows)
    want = _replay(rows, 2, "priority", None)
    assert want["api_failures"] > 0
    res = run_pipeline(spark, path, num_workers=2)
    _assert_report(_report(res), want)


def test_negative_arrivals_equal_the_pre_epoch_filter_count(spark, tmp_path):
    rows = [("user_a", ms, 2.0) for ms in (-9000, -1, 0, 1, 5000)] + [
        ("user_b", -500, 25.0)
    ]
    path = _write_log(tmp_path / "pre_epoch.csv", rows)
    res = run_pipeline(spark, path)
    arrivals = with_sim_arrival_time(read_requests_csv(spark, path), REFERENCE_EPOCH)
    pre_epoch = arrivals.filter(F.col("sim_arrival_time") < 0).count()
    assert res.negative_arrivals == pre_epoch == 3
    assert render_report(res)[1] == "requests with pre-epoch timestamps: 3"
