"""The workloads and their operations.

Each workload is a closed loop with one client: one operation at a time,
the next starting when the previous one returns.  A pass is a fixed list
of operations in a fixed order, and a run is a whole number of passes, so
every run of a workload times the same operations.  The seed generates the
inputs that vary between runs; it does not reorder the operations, because
each operation inherits JIT warm-up from the ones before it, and under a
seeded order single operations ran at 0.65x to 1.5x of their median.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from pathlib import Path
from typing import Any, Callable

from perfbench import checks, inputs



def sf_dir() -> str:
    """The sf0.1 test tables: the sibling of the sf0.001 set that the
    entry module's smoke query reads."""
    import __spark_entry__

    return str(Path(__spark_entry__.SMOKE_SF_DIR).parent / "sf0.1")


#: JVM-only read queries; none starts a Python worker
CATALOG_QUERIES = (
    # reference-parity statistics
    "fifo_stats", "fifo_stats_by_user", "sim_result_stats", "rate_limit_sliding",
    # TPC-H
    "tpch_q1", "tpch_q3_shipping", "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    # relational
    "window_topn_orders", "asof_join_purchase", "range_join_error_context",
    # pair emitter (LSH candidate generation + verify)
    "minhash_lsh_pairs",
    # text
    "text_stats", "dedup_exact",
)
#: a stateful stream-stream join drain: checkpoints and state stores, on the JVM
CATALOG_DRAINS = ("streaming_interval_join",)
#: oracle-backed registered call sites of ``simulate(..., shards=64)``
KERNEL_QUERIES = ("kernel_fifo_k1", "kernel_priority_oracle")
#: (workers, queue mode, FIFO bound): the reference's priority queue, an
#: unbounded FIFO and a FIFO bounded at 5 that rejects under backlog
SCENARIOS = tuple(
    (k, mode, bound)
    for k in (1, 2, 4)
    for mode, bound in (("priority", None), ("fifo", None), ("fifo", 5))
)
REPORT_TENANTS = 12
REPORT_ROWS = 1200
LAKE_EVENTS = 20_000
LAKE_USERS = 2_000
LAKE_VERSIONS = 4
LAKE_KEEP = 2
#: length of one pass of either workload on a 4-CPU host; a run makes
#: round(seconds / PASS_SECONDS) passes, so its operation count is fixed
PASS_SECONDS = 30.0


@dataclass
class Op:
    """One timed operation.  ``run`` returns the output that ``check``
    verifies after the timed region."""

    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    sim_rows: Callable[[Any], int] = lambda out: 0


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    goldens: Any
    work: Path
    sf_dir: str
    replays: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    #: tables whose footers are read during set-up
    tables: tuple[str, ...]
    #: whether any operation starts Python workers (warmed during set-up)
    python: bool
    make_inputs: Callable[[Path, int, int], None]
    make_pass: Callable[[Ctx, int], list[Op]]

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / PASS_SECONDS))


# ------------------------------------------------------------------ queries


def query_op(ctx: Ctx, name: str, kind: str = "query") -> Op:
    from queue_system_simulator_spark.plans import QUERIES

    spec = QUERIES[name]

    def run():
        with ctx.tracer.phase("build"):
            df = spec.build(ctx.spark, ctx.sf_dir)
        with ctx.tracer.phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with ctx.tracer.phase("exec"):
            rows = df.collect()
        return df.columns, rows

    def check(out):
        columns, rows = out
        ctx.goldens.check(name, spec.oracle, columns, [tuple(r) for r in rows])

    if kind != "kernel":
        return Op(name, kind, run, check)
    # a kernel query returns one row per simulated request
    return Op(name, kind, run, check, sim_rows=lambda out: len(out[1]))


# ----------------------------------------------------------------- simulate


class _Collected:
    """Stands in for a result frame inside ``render_report`` and keeps the
    rows it collected, so the report can be checked without re-running."""

    def __init__(self, df):
        self.df = df
        self.rows = None

    def collect(self):
        self.rows = self.df.collect()
        return self.rows


def _scenario(k: int, mode: str, bound: int | None) -> str:
    return f"k{k}_{mode}" + (f"{bound}" if bound else "")


def _log_path(work: Path, pass_no: int, scenario: str) -> Path:
    return work / "inputs" / f"log_p{pass_no}_{scenario}.csv"


def simulate_inputs(work: Path, seed: int, passes: int) -> None:
    for p in range(passes):
        for i, scenario in enumerate(SCENARIOS):
            inputs.write_text(
                _log_path(work, p, _scenario(*scenario)),
                inputs.request_log_csv(
                    seed, p * len(SCENARIOS) + i, REPORT_TENANTS, REPORT_ROWS
                ),
            )


def report_op(ctx: Ctx, pass_no: int, k: int, mode: str, bound: int | None) -> Op:
    from queue_system_simulator_spark.pipeline import render_report, run_pipeline

    name = f"report_{_scenario(k, mode, bound)}"
    path = _log_path(ctx.work, pass_no, _scenario(k, mode, bound))

    def run():
        with ctx.tracer.phase("build"):
            res = run_pipeline(
                ctx.spark, str(path), num_workers=k, queue_size=bound,
                queue_mode=mode, run_col="user_id",
            )
        scalar, api = _Collected(res.scalar_stats), _Collected(res.api_counts)
        with ctx.tracer.phase("exec"):
            lines = render_report(replace(res, scalar_stats=scalar, api_counts=api))
        return {
            "lines": lines,
            "input_rows": res.input_rows,
            "scalar": scalar.rows[0].asDict(),
            "api": {r["api_key"]: r["usage_count"] for r in api.rows},
        }

    def check(out):
        expected, self_s = checks.replay_report(checks.read_log(path), k, mode, bound)
        ctx.replays[f"{name}|{pass_no}"] = {"self_s": self_s, "rows": out["input_rows"]}
        checks.check_report(name, expected, out["scalar"], out["api"])

    return Op(name, "report", run, check, sim_rows=lambda out: out["input_rows"])


def simulate_pass(ctx: Ctx, pass_no: int) -> list[Op]:
    return (
        [query_op(ctx, q, "kernel") for q in KERNEL_QUERIES]
        + [report_op(ctx, pass_no, *scenario) for scenario in SCENARIOS]
    )


# ------------------------------------------------------------------ catalog


def _events_path(work: Path, pass_no: int) -> Path:
    return work / "inputs" / f"lake_events_p{pass_no}.parquet"


def lake_inputs(work: Path, seed: int, passes: int) -> None:
    for p in range(passes):
        inputs.write_parquet(
            _events_path(work, p), inputs.lake_events(seed, 1000 + p, LAKE_EVENTS, LAKE_USERS)
        )


def lake_op(ctx: Ctx, pass_no: int) -> Op:
    """One table lifecycle on a fresh lake: write the versioned snapshots,
    read every version, read the manifest, vacuum, then optimize."""
    from queue_system_simulator_spark.sources import sink

    base = str(ctx.work / "lake" / f"p{pass_no}")

    def run():
        with ctx.tracer.phase("exec"):
            events = ctx.spark.read.parquet(str(_events_path(ctx.work, pass_no)))
            cuts = sink.write_versioned_snapshots(events, base, n_versions=LAKE_VERSIONS)
            reads = {
                v: len(sink.read_version(ctx.spark, base, v).collect())
                for v in range(1, LAKE_VERSIONS + 1)
            }
            manifest = sorted(tuple(r) for r in sink.read_manifest(ctx.spark, base).collect())
            expired = sink.vacuum_versions(ctx.spark, base, keep_last=LAKE_KEEP)
            optimized = sink.optimize_compact(ctx.spark, base, target_files=2, force=True)
        return cuts, reads, manifest, expired, optimized

    def check(out):
        cuts, reads, manifest, expired, optimized = out
        committed = {version: n_rows for version, _cut, n_rows in manifest}
        problems = []
        if len(cuts) != LAKE_VERSIONS or sorted(committed) != sorted(reads):
            problems.append(f"versions {sorted(committed)} for {len(cuts)} cuts")
        problems += [
            f"v{v} read {n} rows, manifest says {committed.get(v)}"
            for v, n in reads.items()
            if committed.get(v) != n
        ]
        if expired != list(range(1, LAKE_VERSIONS - LAKE_KEEP + 1)):
            problems.append(f"vacuum expired {expired}")
        if optimized != LAKE_VERSIONS + 1:
            problems.append(f"optimize committed v{optimized}")
        if problems:
            raise checks.CheckFailed("lake_lifecycle: " + "; ".join(problems))

    return Op("lake_lifecycle", "lake", run, check)


def catalog_pass(ctx: Ctx, pass_no: int) -> list[Op]:
    return (
        [query_op(ctx, q) for q in CATALOG_QUERIES]
        + [lake_op(ctx, pass_no)]
        + [query_op(ctx, q, "drain") for q in CATALOG_DRAINS]
    )


WORKLOADS = {
    w.name: w
    for w in (
        Workload("catalog", ("customer", "lineitem", "nation", "orders", "part",
                             "region", "supplier", "events", "documents"),
                 False, lake_inputs, catalog_pass),
        Workload("simulate", ("events",), True, simulate_inputs, simulate_pass),
    )
}


def ordered_ops(w: Workload, ctx: Ctx, passes: int) -> list[tuple[int, Op]]:
    """Every pass's operations, in the workload's fixed order."""
    return [(p, op) for p in range(passes) for op in w.make_pass(ctx, p)]
