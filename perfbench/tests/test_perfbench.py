"""Self-tests of the benchmark's own code; none of them starts Spark.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
``data/eventlog_small.jsonl`` is a real Spark 4 event log, trimmed to the
events the parser reads, of one core running ``kernel_fifo_k1``,
``fifo_stats`` and ``streaming_tumbling_counts`` at sf0.001 and a
100-row parquet write; ``data/spans.json`` holds the wall-clock span of
each of those operations.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, inputs, stats, trace  # noqa: E402

DATA = Path(__file__).parent / "data"


def _recorded():
    log = trace.parse_event_log(trace.read_events(DATA / "eventlog_small.jsonl"))
    ops = [
        trace.OpSpan(name, "query", 0, start, end, end - start)
        for name, start, end in json.loads((DATA / "spans.json").read_text())
    ]
    return log, ops, trace.attribute(log, "t", ops)


def test_event_log_attributes_every_task_to_one_operation():
    log, ops, layers = _recorded()
    assert sum(op.counts["tasks"] for op in layers) == len(log.tasks) > 0
    assert all(op.counts["jobs"] >= 1 for op in layers)


def test_event_log_job_groups_and_phases():
    _log, ops, layers = _recorded()
    by = {s.op: op.counts for s, op in zip(ops, layers)}
    # the parquet schema scan runs while the query is built
    assert by["kernel_fifo_k1"]["build_jobs"] >= 1
    assert by["kernel_fifo_k1"]["jobs"] > by["kernel_fifo_k1"]["build_jobs"]


def test_event_log_python_metrics_only_on_the_kernel():
    _log, ops, layers = _recorded()
    by = {s.op: op.counts for s, op in zip(ops, layers)}
    kernel = by["kernel_fifo_k1"]
    assert kernel["worker_run_ms"] > 0
    assert kernel["to_py_bytes"] > 0 and kernel["from_py_bytes"] > 0
    # one kernel output row per request of the 1,000-event table
    assert kernel["py_rows"] == 1000
    assert by["fifo_stats"]["worker_run_ms"] == 0
    assert by["fifo_stats"]["py_rows"] == 0


def test_event_log_streaming_job_attributed_by_time():
    log, ops, layers = _recorded()
    stream = {s.op: op for s, op in zip(ops, layers)}["streaming_tumbling_counts"]
    foreign = [j for j in log.jobs.values() if not (j.group or "").startswith("t|")]
    assert foreign, "the micro-batch job carries the stream's run id"
    assert stream.counts["jobs"] >= len(foreign) + 1


def test_event_log_written_files_and_skew():
    _log, ops, layers = _recorded()
    write = {s.op: op for s, op in zip(ops, layers)}["write"]
    assert write.counts["files_written"] >= 1
    assert write.counts["output_bytes"] > 0
    assert all(op.stage_skew is None or op.stage_skew >= 1.0 for op in layers)


def test_tail_is_the_slowest_operation():
    # one simulate pass: two slow kernel queries, nine faster reports
    times = [5.8, 5.6] + [1.5 + 0.1 * i for i in range(9)]
    assert stats.tail(times) == 5.8
    # speeding up a fast operation cannot move it; the slowest one does
    assert stats.tail([5.8, 5.6] + [0.1] + times[3:]) == 5.8
    assert stats.tail([5.0] + times[1:]) == 5.6


def test_tail_needs_a_sample():
    with pytest.raises(ValueError):
        stats.tail([])


def test_percentile_is_linear_interpolation():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    for q in (0.0, 0.5, 0.75, 0.9, 0.99, 1.0):
        assert stats.percentile_linear(values, q) == pytest.approx(
            float(np.percentile(values, q * 100))
        )


def test_request_log_is_seeded():
    a = inputs.request_log_csv(7, 3, 12, 500)
    assert a == inputs.request_log_csv(7, 3, 12, 500)
    assert a != inputs.request_log_csv(8, 3, 12, 500)
    assert a != inputs.request_log_csv(7, 4, 12, 500)
    lines = a.splitlines()
    assert lines[0] == "user_id,request_time,processing_time" and len(lines) == 501
    assert all(1.0 <= float(line.split(",")[2]) <= 10.0 for line in lines[1:])


def test_lake_events_parquet_is_byte_identical(tmp_path):
    a = inputs.write_parquet(tmp_path / "a.parquet", inputs.lake_events(7, 1, 2000, 50))
    b = inputs.write_parquet(tmp_path / "b.parquet", inputs.lake_events(7, 1, 2000, 50))
    c = inputs.write_parquet(tmp_path / "c.parquet", inputs.lake_events(8, 1, 2000, 50))
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()


def test_report_replay_counts_and_rejections(tmp_path):
    path = inputs.write_text(tmp_path / "log.csv", inputs.request_log_csv(5, 0, 6, 600))
    log = checks.read_log(path)
    assert sum(len(rows) for rows in log.values()) == 600
    for rows in log.values():
        times = [r["sim_arrival_time"] for r in rows]
        assert times == sorted(times) and [r["seq"] for r in rows] == list(range(1, len(rows) + 1))
    unbounded, _ = checks.replay_report(log, 1, "fifo", None)
    bounded, _ = checks.replay_report(log, 1, "fifo", 5)
    assert unbounded["rejected"] == 0 and unbounded["processed"] == 600
    assert bounded["rejected"] > 0
    assert bounded["processed"] + bounded["rejected"] == 600
    assert sum(bounded["api"].values()) == bounded["processed"]

    scalar = {k: unbounded[k] for k in ("processed", "rejected", "avg_queuing_time",
                                        "p50", "p75", "p90", "p99")}
    checks.check_report("same", unbounded, scalar, unbounded["api"])
    scalar["p90"] *= 1 + 1e-6
    with pytest.raises(checks.CheckFailed):
        checks.check_report("drifted", unbounded, scalar, unbounded["api"])


def test_stream_totals_use_batches_inside_each_operation():
    ops = [trace.OpSpan("drain", "drain", 0, 100.0, 110.0, 10.0)]
    progress = [
        {"start": 101.0, "query": "q", "batch": 0, "rows": 5, "state_rows": 4,
         "state_bytes": 2**20, "duration_ms": {"triggerExecution": 3000,
                                               "walCommit": 100, "commitOffsets": 50}},
        {"start": 105.0, "query": "q", "batch": 1, "rows": 7, "state_rows": 9,
         "state_bytes": 2**21, "duration_ms": {"triggerExecution": 2000,
                                               "walCommit": 100, "commitOffsets": 50}},
        {"start": 120.0, "query": "other", "batch": 0, "rows": 99, "state_rows": 99,
         "state_bytes": 0, "duration_ms": {"triggerExecution": 1}},
    ]
    got = trace.stream_totals(progress, ops)
    assert got["batches"] == 2 and got["input_rows"] == 12
    assert got["trigger_s"] == pytest.approx(5.0)
    assert got["checkpoint_s"] == pytest.approx(0.3)
    assert got["overhead_s"] == pytest.approx(5.0)
    assert got["state_rows"] == 9 and got["state_mb"] == pytest.approx(2.0)
