"""Spans around the benchmark's calls into the program, plus the parsers
that turn Spark's own event log and streaming progress into per-layer
numbers.

Every Spark job an operation launches is tagged with the job group
``<workload>|<op>|<pass>|<phase>``; streaming micro-batch jobs carry their
run id instead and are attributed by submission time, which is exact in a
closed loop with one client.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path
from typing import Any, Iterable, Iterator

PY_METRICS = {
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "worker_run_ms",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}
#: Plan nodes whose output rows have passed through a Python worker.
PY_NODE_MARKERS = ("Pandas", "Python", "InArrow")


@dataclass
class OpSpan:
    op: str
    kind: str
    pass_no: int
    start: float  # wall clock, for aligning with event-log timestamps
    end: float = 0.0
    seconds: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Times each operation and its phases; with ``tag_jobs`` it also sets
    the job group that attributes the operation's Spark jobs."""

    def __init__(self, spark, workload: str, tag_jobs: bool):
        self.spark = spark
        self.workload = workload
        self.tag_jobs = tag_jobs
        self.ops: list[OpSpan] = []
        self._current: OpSpan | None = None

    @contextmanager
    def op(self, name: str, kind: str, pass_no: int) -> Iterator[OpSpan]:
        span = OpSpan(name, kind, pass_no, time.time())
        self._current = span
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.seconds = time.perf_counter() - t0
            span.end = time.time()
            self.ops.append(span)
            self._current = None

    @contextmanager
    def phase(self, phase: str) -> Iterator[None]:
        span = self._current
        if self.tag_jobs:
            group = f"{self.workload}|{span.op}|{span.pass_no}|{phase}"
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            span.phases[phase] = span.phases.get(phase, 0.0) + time.perf_counter() - t0


# ---------------------------------------------------------------- event log


def event_log_files(path: Path) -> list[Path]:
    """The event files under ``path``: a plain file, or Spark's rolling
    ``eventlog_v2_*/events_<n>_*`` layout in index order."""
    if path.is_file():
        return [path]
    files = [p for p in path.rglob("events_*") if p.is_file()]
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


def read_events(path: Path) -> Iterator[dict]:
    for f in event_log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int
    accums: list[tuple[int, str, int]]


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    sql_exec: int | None
    stages: list[int]
    call_sites: list[str]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_span_ms: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    acc_node: dict[int, tuple[str, str]] = field(default_factory=dict)
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)


def _int(v: Any) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def parse_event_log(events: Iterable[dict]) -> EventLog:
    log = EventLog()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"],
                e["Submission Time"],
                props.get("spark.jobGroup.id"),
                int(sql) if sql is not None else None,
                list(e["Stage IDs"]),
                [s["Stage Name"] for s in e.get("Stage Infos", [])],
            )
            log.jobs[job.job_id] = job
            for s in job.stages:
                log.stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                log.stage_span_ms[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                Task(
                    e["Stage ID"],
                    _int(m.get("Executor Run Time")),
                    _int(m.get("Executor CPU Time")),
                    _int(m.get("JVM GC Time")),
                    _int(sr.get("Remote Bytes Read")) + _int(sr.get("Local Bytes Read")),
                    _int(sw.get("Shuffle Bytes Written")),
                    _int(m.get("Disk Bytes Spilled")),
                    _int((m.get("Input Metrics") or {}).get("Bytes Read")),
                    _int((m.get("Output Metrics") or {}).get("Bytes Written")),
                    [
                        (a["ID"], a.get("Name", ""), _int(a.get("Update")))
                        for a in (e.get("Task Info") or {}).get("Accumulables", [])
                    ],
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e["sparkPlanInfo"], log.acc_node)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                log.driver_accums.append((e["executionId"], acc, _int(value)))
    return log


def empty_counts() -> dict[str, float]:
    keys = (
        "jobs", "build_jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
        "gc_ms", "shuffle_read", "shuffle_write", "spill", "input_bytes",
        "output_bytes", "files_written", "py_rows", *PY_METRICS.values(),
    )
    return dict.fromkeys(keys, 0)


@dataclass
class OpLayers:
    """Event-log totals for one operation."""

    counts: dict[str, float] = field(default_factory=empty_counts)
    call_sites: Counter = field(default_factory=Counter)
    stage_skew: float | None = None


def attribute(log: EventLog, workload: str, ops: list[OpSpan]) -> list[OpLayers]:
    """Per-operation totals, in the order of ``ops``.

    A job belongs to the operation named in its job group, else to the
    operation whose wall-clock span contains its submission time.
    Unattributed jobs (set-up, checks) are dropped."""
    by_key = {(s.op, str(s.pass_no)): i for i, s in enumerate(ops)}
    out = [OpLayers() for _ in ops]
    job_op: dict[int, int] = {}
    for job in log.jobs.values():
        idx, phase = None, None
        parts = (job.group or "").split("|")
        if len(parts) == 4 and parts[0] == workload:
            idx, phase = by_key.get((parts[1], parts[2])), parts[3]
        else:
            t = job.submit_ms / 1000.0
            idx = next(
                (i for i, s in enumerate(ops) if s.start <= t <= s.end), None
            )
        if idx is None:
            continue
        job_op[job.job_id] = idx
        c = out[idx].counts
        c["jobs"] += 1
        c["build_jobs"] += phase == "build"
        for site in job.call_sites[:1]:
            out[idx].call_sites[site.split("/")[-1]] += 1
    exec_op = {
        job.sql_exec: job_op[job.job_id]
        for job in log.jobs.values()
        if job.sql_exec is not None and job.job_id in job_op
    }

    stage_runs: dict[int, list[int]] = {}
    for t in log.tasks:
        job_id = log.stage_job.get(t.stage)
        if job_id not in job_op:
            continue
        c = out[job_op[job_id]].counts
        c["tasks"] += 1
        c["task_run_ms"] += t.run_ms
        c["task_cpu_ns"] += t.cpu_ns
        c["gc_ms"] += t.gc_ms
        c["shuffle_read"] += t.shuffle_read
        c["shuffle_write"] += t.shuffle_write
        c["spill"] += t.spill
        c["input_bytes"] += t.input_bytes
        c["output_bytes"] += t.output_bytes
        stage_runs.setdefault(t.stage, []).append(t.run_ms)
        for acc, name, update in t.accums:
            if name in PY_METRICS:
                c[PY_METRICS[name]] += update
            elif name == "number of output rows":
                node = log.acc_node.get(acc, ("", ""))[0]
                if any(mark in node for mark in PY_NODE_MARKERS):
                    c["py_rows"] += update

    op_stages: dict[int, list[int]] = {}
    for stage in stage_runs:
        op_stages.setdefault(job_op[log.stage_job[stage]], []).append(stage)
    for i, stages in op_stages.items():
        out[i].counts["stages"] = len(stages)
        runs = stage_runs[max(stages, key=lambda s: log.stage_span_ms.get(s, 0))]
        med = statistics.median(runs)
        out[i].stage_skew = max(runs) / med if med > 0 else 1.0

    for exec_id, acc, value in log.driver_accums:
        if exec_id in exec_op and log.acc_node.get(acc, ("", ""))[1] == "number of written files":
            out[exec_op[exec_id]].counts["files_written"] += value
    return out


# ---------------------------------------------------------- streaming progress


def _progress_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        """Keeps every micro-batch progress report (trigger start, input
        rows, per-phase durations, state size)."""

        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.events.append(
                {
                    "start": datetime.fromisoformat(p.timestamp).timestamp(),
                    "query": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamProgress


def register_stream_listener(spark):
    listener = _progress_listener_class()()
    spark.streams.addListener(listener)
    return listener


def wait_quiet(events: list, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Listener callbacks arrive asynchronously: wait until none has
    arrived for ``quiet_s``."""
    deadline = time.time() + limit_s
    n = -1
    while time.time() < deadline and n != len(events):
        n = len(events)
        time.sleep(quiet_s)


def stream_totals(progress: list[dict], ops: list[OpSpan]) -> dict[str, float]:
    """Streaming metrics over the batches whose trigger started inside an
    operation; state size is taken from each query's last batch."""
    out = dict.fromkeys(
        ("batches", "input_rows", "trigger_s", "checkpoint_s", "state_rows",
         "state_mb", "overhead_s"), 0.0
    )
    last: dict[str, dict] = {}
    for span in ops:
        mine = [p for p in progress if span.start <= p["start"] <= span.end]
        if not mine:
            continue
        trigger = sum(p["duration_ms"].get("triggerExecution", 0) for p in mine) / 1e3
        out["batches"] += len(mine)
        out["input_rows"] += sum(p["rows"] for p in mine)
        out["trigger_s"] += trigger
        out["checkpoint_s"] += sum(
            p["duration_ms"].get("walCommit", 0) + p["duration_ms"].get("commitOffsets", 0)
            for p in mine
        ) / 1e3
        out["overhead_s"] += max(span.seconds - trigger, 0.0)
        for p in mine:
            if p["batch"] >= last.get(p["query"], {"batch": -1})["batch"]:
                last[p["query"]] = p
    out["state_rows"] = sum(p["state_rows"] for p in last.values())
    out["state_mb"] = sum(p["state_bytes"] for p in last.values()) / 2**20
    return out


# ------------------------------------------------------- program call spans


@dataclass
class CallLog:
    """Time inside the wrapped sink functions."""

    sink_s: float = 0.0


def wrap_sink(module, names: Iterable[str], calls: CallLog) -> None:
    """Replace ``module.<name>`` with a timing wrapper; callers that look
    the function up on the module at call time see the wrapper."""
    for name in names:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*a, __fn=fn, **kw):
            t0 = time.perf_counter()
            try:
                return __fn(*a, **kw)
            finally:
                calls.sink_s += time.perf_counter() - t0

        setattr(module, name, timed)
