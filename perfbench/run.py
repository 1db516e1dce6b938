"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 30 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is a
JSON object with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics (Spark event log, streaming listener, spans around the
calls into the program) and the tracing overhead against an untraced run
of the same workload and seed made just before it.  Everything the run
writes goes under ``.perfbench/`` in the repository root; the per-run
scratch directory is removed at exit and a detail record is kept in
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RECORDS = ROOT / ".perfbench" / "records"
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402
from perfbench.proc import PeakRssSampler  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, ordered_ops, sf_dir  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "ops_per_s": "1/s",
}


def hermetic_env(work: Path) -> int:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and size Spark from the CPUs this process may use."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return cores


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_python(spark, cores: int) -> None:
    """Start one Python worker per core and import the kernel in each."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.operators.kernel import SimParams, simulate

    df = spark.range(4 * cores).select(
        (F.col("id") % cores).alias("run_id"),
        F.lit("w").alias("user_id"),
        F.col("id").alias("seq"),
        F.col("id").cast("double").alias("sim_arrival_time"),
        F.lit(1.0).alias("processing_time"),
    )
    simulate(df, SimParams(), group_cols=["run_id"]).count()


def record_path(args, trace: int) -> Path:
    return RECORDS / f"{args.workload}_seed{args.seed}_s{args.seconds:g}_trace{trace}.json"


def untraced_span(args) -> float:
    """Timed span of an untraced run of the same workload, seed and length,
    made now: the host's speed drifts by more than the tracing overhead
    over minutes, so an older run is no baseline."""
    subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.DEVNULL, timeout=170, check=True,
    )
    return json.loads(record_path(args, 0).read_text())["span_s"]


def run(args, work: Path) -> dict:
    cores = hermetic_env(work)
    workload = WORKLOADS[args.workload]
    passes = workload.passes(args.seconds)
    workload.make_inputs(work, args.seed, passes)
    base_span = untraced_span(args) if args.trace else None

    from queue_system_simulator_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (work / "events").as_uri(),
        })
        (work / "events").mkdir()

    # the sampler walks /proc on a thread; only the traced run reports it
    with PeakRssSampler() if args.trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            from queue_system_simulator_spark import shipping
            # importing the registry loads every query module: set-up work
            from queue_system_simulator_spark.plans import QUERIES  # noqa: F401
            from queue_system_simulator_spark.schema import load_table

            shipping.ensure_shipped(spark)
            for t in workload.tables:
                load_table(spark, args.sf_dir, t)
            if workload.python:
                warm_python(spark, cores)
            setup_s = time.perf_counter() - t0
            return measure(args, spark, workload, work, passes, cores,
                           rss, session_s, setup_s, base_span)
        finally:
            stop_spark(spark)


def measure(args, spark, workload, work, passes, cores, rss, session_s, setup_s, base_span):
    from queue_system_simulator_spark.operators.statistics import release_pinned
    from queue_system_simulator_spark.schema import TABLE_NAMES

    from perfbench import checks, trace

    tracer = trace.Tracer(spark, workload.name, tag_jobs=bool(args.trace))
    goldens = checks.Goldens(ROOT, ROOT / ".perfbench" / "goldens.json", args.sf_dir,
                             list(TABLE_NAMES))
    ctx = Ctx(spark, tracer, goldens, work, args.sf_dir)
    calls = trace.CallLog()
    listener = None
    if args.trace:
        from queue_system_simulator_spark.sources import sink

        listener = trace.register_stream_listener(spark)
        # the committing sink calls of the lake lifecycle
        trace.wrap_sink(sink, ("write_versioned_snapshots", "vacuum_versions",
                               "optimize_compact"), calls)

    ops = ordered_ops(workload, ctx, passes)
    outputs: list[tuple[int, object, object]] = []
    errors: list[str] = []
    for pass_no, op in ops:
        with tracer.op(op.name, op.kind, pass_no):
            try:
                out = op.run()
            except Exception as e:  # a failed operation is counted, not fatal
                out = e
        outputs.append((pass_no, op, out))
        print(f"perfbench: {op.name} {tracer.ops[-1].seconds:.3f} s", file=sys.stderr)
        # untimed hygiene between operations, as in bench.py: drop cached
        # intermediates and collect both heaps, so the context cleaner's
        # shuffle/broadcast debt and GC pauses of one operation do not land
        # inside the next one's timing
        release_pinned()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        gc.collect()
    if rss is not None:
        rss.stop()
    spark.sparkContext.setJobGroup(f"{workload.name}|checks", "checks")
    if listener is not None:
        trace.wait_quiet(listener.events)

    sim_rows = 0
    for pass_no, op, out in outputs:
        try:
            if isinstance(out, Exception):
                raise out
            op.check(out)
            sim_rows += op.sim_rows(out)
        except Exception as e:
            errors.append(f"{op.name} (pass {pass_no}): {type(e).__name__}: {e}"[:500])
    goldens.close()

    times = [s.seconds for s in tracer.ops]
    span = sum(times)
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(times),
        "op_s_tail": stats.tail(times),
        "ops_per_s": len(times) / span,
    }
    result = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "cores": cores, "passes": passes, "ops": len(times),
        "failed_frac": len(errors) / len(times), "sim_rows": sim_rows,
        "peak_rss_mb": rss.peak_bytes / 2**20 if rss is not None else None,
        "span_s": span, "session_s": session_s, "errors": errors, "end_to_end": e2e,
        "op_times": [(s.op, s.pass_no, s.seconds, s.phases) for s in tracer.ops],
    }
    if args.trace:
        result["trace"] = dict(
            tracer=tracer, calls=calls, listener=listener, work=work, cores=cores,
            base_span=base_span, ctx=ctx,
        )
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import queue_system_simulator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    args.sf_dir = sf_dir()
    if not Path(args.sf_dir).is_dir():
        print(f"perfbench: input tables {args.sf_dir} are missing", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        result = run(args, work)
        if args.trace:
            from perfbench import layers

            metrics = layers.compute(result)
            units = layers.UNITS
        else:
            metrics = result["end_to_end"]
            units = END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result.pop("trace", None)
    result["metrics"] = metrics
    RECORDS.mkdir(parents=True, exist_ok=True)
    record_path(args, args.trace).write_text(
        json.dumps(result, indent=1, default=str)
    )
    for err in result["errors"]:
        print(f"FAILED {err}")
    print(f"{args.workload}: {result['ops']} ops in {result['passes']} pass(es), "
          f"{result['failed_frac']:.3f} failed, {result['cores']} cores")
    for name, value in metrics.items():
        note = ""
        if name == "op_s_tail":
            note = f"  (p100: the slowest of {result['ops']} ops)"
        print(f"  {name:<24} {value:>14.6f} {units[name]}{note}")
    line = {
        "correct": not result["errors"],
        "attempted": result["ops"],
        "failed": len(result["errors"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
