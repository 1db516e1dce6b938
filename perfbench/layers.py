"""Per-layer metrics of a traced run.  Layers are named after the
program's modules; ``perfbench/README.md`` maps each metric to the
end-to-end metric and workload it should move."""

from __future__ import annotations

import statistics

from perfbench import trace

UNITS = {
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "jvm.exec_s": "s",
    "jvm.task_run_s": "s",
    "jvm.task_cpu_s": "s",
    "jvm.cpu_ratio": "ratio",
    "jvm.gc_s": "s",
    "jvm.shuffle_read_mb": "MB",
    "jvm.shuffle_write_mb": "MB",
    "jvm.spill_mb": "MB",
    "jvm.jobs": "count",
    "jvm.stages": "count",
    "jvm.tasks": "count",
    "jvm.core_util": "ratio",
    "jvm.stage_skew": "ratio",
    "py.worker_start_s": "s",
    "py.worker_init_s": "s",
    "py.worker_run_s": "s",
    "py.to_py_mb": "MB",
    "py.from_py_mb": "MB",
    "kernel.self_s": "s",
    "kernel.rows_per_s": "rows/s",
    "kernel.share": "ratio",
    "kernel.reruns": "ratio",
    "sim_rows_per_s": "rows/s",
    "pipeline.jobs": "count",
    "io.read_mb": "MB",
    "io.write_mb": "MB",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    "sink.commit_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.trigger_s": "s",
    "stream.checkpoint_s": "s",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.overhead_s": "s",
    "trace.overhead": "ratio",
    "trace.unattributed": "ratio",
}

MB = 2**20


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def compute(result: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run's ``result``; also adds the
    per-operation layer record (``op_layers``) and the reports' jobs by
    call site (``pipeline_call_sites``) to ``result`` for its record."""
    tr = result["trace"]
    ops = tr["tracer"].ops
    log = trace.parse_event_log(trace.read_events(tr["work"] / "events"))
    per_op = trace.attribute(log, result["workload"], ops)
    tot = trace.empty_counts()
    for op in per_op:
        for k, v in op.counts.items():
            tot[k] += v
    span = sum(s.seconds for s in ops)
    phase = {p: sum(s.phases.get(p, 0.0) for s in ops) for p in ("build", "plan", "exec")}
    task_run_s = tot["task_run_ms"] / 1e3
    task_cpu_s = tot["task_cpu_ns"] / 1e9
    skews = [op.stage_skew for op in per_op if op.stage_skew is not None]

    reports = [i for i, s in enumerate(ops) if s.kind == "report"]
    replays = tr["ctx"].replays.values()
    kernel_self = sum(r["self_s"] for r in replays)
    report_rows = sum(r["rows"] for r in replays)
    report_py_run_s = sum(per_op[i].counts["worker_run_ms"] for i in reports) / 1e3
    report_py_rows = sum(per_op[i].counts["py_rows"] for i in reports)

    out = {
        "mem.peak_rss_mb": result["peak_rss_mb"],
        "session.start_s": result["session_s"],
        "session.warmup_s": result["end_to_end"]["setup_s"] - result["session_s"],
        "plans.build_s": phase["build"],
        "plans.build_jobs": tot["build_jobs"],
        "catalyst.plan_s": phase["plan"],
        "jvm.exec_s": phase["exec"],
        "jvm.task_run_s": task_run_s,
        "jvm.task_cpu_s": task_cpu_s,
        "jvm.cpu_ratio": _ratio(task_cpu_s, task_run_s),
        "jvm.gc_s": tot["gc_ms"] / 1e3,
        "jvm.shuffle_read_mb": tot["shuffle_read"] / MB,
        "jvm.shuffle_write_mb": tot["shuffle_write"] / MB,
        "jvm.spill_mb": tot["spill"] / MB,
        "jvm.jobs": tot["jobs"],
        "jvm.stages": tot["stages"],
        "jvm.tasks": tot["tasks"],
        "jvm.core_util": _ratio(task_run_s, span * tr["cores"]),
        "jvm.stage_skew": statistics.median(skews) if skews else 0.0,
        "py.worker_start_s": tot["worker_start_ms"] / 1e3,
        "py.worker_init_s": tot["worker_init_ms"] / 1e3,
        "py.worker_run_s": tot["worker_run_ms"] / 1e3,
        "py.to_py_mb": tot["to_py_bytes"] / MB,
        "py.from_py_mb": tot["from_py_bytes"] / MB,
        "kernel.self_s": kernel_self,
        "kernel.rows_per_s": _ratio(report_rows, kernel_self),
        "kernel.share": _ratio(kernel_self, report_py_run_s),
        "kernel.reruns": _ratio(report_py_rows, report_rows),
        "sim_rows_per_s": result["sim_rows"] / span,
        "pipeline.jobs": _ratio(sum(per_op[i].counts["jobs"] for i in reports), len(reports)),
        "io.read_mb": tot["input_bytes"] / MB,
        "io.write_mb": tot["output_bytes"] / MB,
        "io.files_written": tot["files_written"],
        "io.write_amp": _ratio(tot["output_bytes"], tot["input_bytes"]),
        "sink.commit_s": tr["calls"].sink_s,
    }
    stream = trace.stream_totals(tr["listener"].events, ops)
    out.update({f"stream.{k}": v for k, v in stream.items()})
    out["trace.overhead"] = span / tr["base_span"] - 1.0
    out["trace.unattributed"] = max(
        1.0 - sum(s.phases.values()) / s.seconds for s in ops
    )
    sites = {}
    for i in reports:
        for site, n in per_op[i].call_sites.items():
            sites[site] = sites.get(site, 0) + n
    result["pipeline_call_sites"] = sites
    result["op_layers"] = [
        {"op": s.op, "pass": s.pass_no, "seconds": s.seconds, **s.phases,
         **per_op[i].counts, "stage_skew": per_op[i].stage_skew}
        for i, s in enumerate(ops)
    ]
    return {k: float(out[k]) for k in UNITS}
