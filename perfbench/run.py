"""Benchmark for the onetable_spark converter.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs the four phases of ``workloads.py`` (full sync, incremental sync,
keyed upsert + changelog, query mix) on ``local[nproc]`` from the root of
a source checkout, in one process with one closed-loop client. Each
phase gets a fixed share of ``--seconds``. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it print every metric by name with its
unit, the core count and the host steal delta. Scratch files live in
``.perfbench_work/`` under the checkout and are removed on exit; a traced
run leaves its spans in ``.perfbench_spans.jsonl``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import spans as sp

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
#: where a traced run writes its spans, one JSON object a line
SPANS_OUT = ROOT / ".perfbench_spans.jsonl"

#: every end-to-end figure, in output order. CPU is that of the whole
#: process tree (driver, Spark JVM less its JIT compiler threads, Python
#: workers) while the op runs.
E2E_UNITS = {
    "setup_s": "s",
    "full_sync_files_per_s": "1/s",
    "full_sync_files_per_cpu_s": "1/s",
    "incr_sync_p50_ms": "ms",
    "incr_sync_tail_ms": "ms",
    "incr_sync_cpu_ms": "ms",
    "source_commit_p50_ms": "ms",
    "source_commit_cpu_ms": "ms",
    "delta_upsert_p50_ms": "ms",
    "iceberg_upsert_p50_ms": "ms",
    "hudi_upsert_p50_ms": "ms",
    "delta_upsert_cpu_ms": "ms",
    "iceberg_upsert_cpu_ms": "ms",
    "hudi_upsert_cpu_ms": "ms",
    "changelog_s": "s",
    "changelog_cpu_s": "s",
    "query_mix_s": "s",
    "query_mix_cpu_s": "s",
    "driver_rss_peak_mb": "MB",
}
#: the end-to-end metrics the JSON result carries and BENCHMARK.json
#: bounds: CPU costs, steady on a host whose steal moves wall times by
#: 15-40% between runs
BOUNDED = (
    "setup_s", "full_sync_files_per_cpu_s", "incr_sync_cpu_ms", "delta_upsert_cpu_ms",
    "iceberg_upsert_cpu_ms", "hudi_upsert_cpu_ms", "changelog_cpu_s", "query_mix_cpu_s",
)
#: share of --seconds each phase measures for
SHARE = {"sync_incremental": 0.4, "sync_full": 0.2, "row_upsert_cdc": 0.2, "query_mix": 0.2}
#: untraced passes a phase runs even when its share is spent, unless the
#: phase asks for more (``min_passes``)
MIN_PASSES = 1
#: the client calls each format sees: Delta is the only incremental
#: source and never an incremental target
FMT_OPS = {
    "delta": ("snapshot", "changes", "get_sync_metadata", "sync_snapshot", "upsert", "changelog"),
    "iceberg": ("snapshot", "get_sync_metadata", "sync_snapshot", "sync_change", "upsert",
                "changelog"),
    "hudi": ("snapshot", "get_sync_metadata", "sync_snapshot", "sync_change", "upsert",
             "changelog"),
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric, in output order. Spark, driver and query
    counters are per traced pass; ``*_ms`` are medians per call."""
    units = {"sync.client.self_ms": "ms", "sync.incremental_share": "share"}
    for fmt, ops in FMT_OPS.items():
        units.update({f"{fmt}.{op}_ms": "ms" for op in ops})
        units.update({f"{fmt}.jobs_per_op": "count", f"{fmt}.tasks_per_op": "count",
                      f"{fmt}.metadata_bytes_per_commit": "B"})
    units.update({
        "delta.source_commit_ms": "ms",
        "formats.iceberg.manifests_reused_share": "share",
        "sources.parquet_inventory.build_inventory_ms": "ms",
        "sources.parquet_inventory.jobs": "count",
        "queries.tpch_s": "s",
        "queries.inventory_ops_s": "s",
        "queries.python_stage_s": "s",
        "queries.jobs": "count",
        "queries.tasks": "count",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.single_task_stage_share": "share",
        "spark.executor_cpu_s": "s",
        "spark.executor_run_s": "s",
        "spark.shuffle_write_bytes": "B",
        "spark.input_bytes": "B",
        "spark.jobs_unattributed": "count",
        "python_workers.cpu_s": "s",
        "driver.py_cpu_s": "s",
        "driver.jvm_cpu_s": "s",
        "py4j.calls": "count",
        "py4j.wait_s": "s",
        "trace.overhead_share": "share",
    })
    return units


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Ctx:
    """Run state shared by the phases: the session, the sync client, the
    seed, and the attempted/failed tally of ops and output checks."""

    def __init__(self, spark, seed: int) -> None:
        from onetable_spark.sync import SyncClient

        self.spark = spark
        self.seed = seed
        self.client = SyncClient(spark)
        self.jvm = sp.jvm_pid()
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()
        #: set while a traced pass runs; (expected, actual) sync modes of
        #: every target those passes synced
        self.tracing = False
        self.traced_modes: list[tuple[str, str]] = []

    def _count(self, failed: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += failed

    def op(self, fn):
        """Run one engine operation; an exception counts as a failure."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            self._count(True)
            traceback.print_exc(file=sys.stderr)
            return None
        self._count(False)
        return out

    def clock(self) -> tuple[float, float]:
        """Wall and process-tree CPU seconds now; pass to ``lap``."""
        return time.perf_counter(), sp.tree_cpu_s(self.jvm)

    def lap(self, start: tuple[float, float]) -> tuple[float, float]:
        """Wall and CPU milliseconds since ``start``."""
        wall, cpu = self.clock()
        return (wall - start[0]) * 1000, (cpu - start[1]) * 1000

    def check(self, ok: bool, what: str) -> None:
        self._count(not ok)
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def sync_results(self, results, targets, mode) -> None:
        """Every target must report SUCCESS in the expected mode: a
        silent FULL fallback counts as a failure."""
        from onetable_spark.model import SyncStatus

        results = results or {}
        for fmt in targets:
            r = next((v for k, v in results.items() if k.value == fmt), None)
            if self.tracing:
                self.traced_modes.append((mode.value, r.mode.value if r is not None else "MISSING"))
            self.check(
                r is not None and r.status == SyncStatus.SUCCESS and r.mode == mode,
                f"sync into {fmt}: {r}",
            )


def _launch_env(cpus: int) -> None:
    """Point Spark, the JVM and Python temp files into the checkout, and
    put the checkout on the pyspark workers' path so UDF-bearing code
    imports ``onetable_spark`` from any working directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session's default heap is sized for a large host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    # no hsperfdata files, which every JVM (spark-submit's launcher too)
    # would write under /tmp
    prev = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData" + (" " + prev if prev else "")
    # a fixed set of JIT compiler threads, so their CPU can be told apart
    # from the work's (spans.jit_cpu_s) for the whole run
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()


def measure(phase, seconds: float, counters=None) -> tuple[list, list]:
    """Repeat ``phase.one_pass`` for ``seconds``, at least ``MIN_PASSES``
    untraced times. With ``counters`` every second pass is traced, so the
    traced and untraced passes see the same table state growth."""
    untraced, traced = [], []
    end = time.perf_counter() + seconds
    while not getattr(phase, "exhausted", lambda: False)():
        if counters is not None and len(untraced) > len(traced):
            phase.ctx.tracing = True
            with counters.active():
                traced.append(phase.one_pass(counters.tracer))
            phase.ctx.tracing = False
        else:
            untraced.append(phase.one_pass())
        done = (len(untraced) >= getattr(phase, "min_passes", MIN_PASSES)
                and (counters is None or traced))
        if done and time.perf_counter() >= end:
            break
    return untraced, traced


def layer_metrics(ctx, counters, traced: dict, untraced: dict) -> dict:
    """Reduce the traced passes' spans and counters to per-layer numbers."""

    spark, tracer = ctx.spark, counters.tracer
    n = sum(len(p) for p in traced.values())
    all_traced = [p for ps in traced.values() for p in ps]
    job_ids = [j for a, b in counters.job_ranges for j in range(a, b)]
    tot = sp.spark_totals(spark, job_ids)
    attributed = set(tracer.jobs_of(tracer.spans))
    m = {k: 0.0 for k in layer_units()}

    def span_ms(name):
        return _median(s.ms for s in tracer.spans if s.name == name)

    syncs = [s for s in tracer.spans if s.name == "sync.client"]
    m["sync.client.self_ms"] = _median(tracer.self_ms(s) for s in syncs)
    incr = [got for want, got in ctx.traced_modes if want == "INCREMENTAL"]
    m["sync.incremental_share"] = incr.count("INCREMENTAL") / len(incr) if incr else 0.0
    for fmt, ops in FMT_OPS.items():
        for op in ops:
            m[f"{fmt}.{op}_ms"] = span_ms(f"{fmt}.{op}")
        own = [s for s in tracer.spans if s.name.startswith(fmt + ".")]
        if own:
            jobs = tracer.jobs_of(own)
            m[f"{fmt}.jobs_per_op"] = len(jobs) / len(own)
            m[f"{fmt}.tasks_per_op"] = sp.tasks_of(spark, jobs) / len(own)
        sizes = [b for p in all_traced for b in p.get("meta_bytes", {}).get(fmt, [])]
        m[f"{fmt}.metadata_bytes_per_commit"] = sum(sizes) / len(sizes) if sizes else 0.0
    m["delta.source_commit_ms"] = span_ms("delta.commit")
    reused = [p["manifests_reused"] for p in traced["sync_incremental"]]
    if reused:
        m["formats.iceberg.manifests_reused_share"] = (
            sum(r for r, _ in reused) / max(sum(t for _, t in reused), 1)
        )
    inv = [s for s in tracer.spans if s.name == "sources.parquet_inventory.build_inventory"]
    m["sources.parquet_inventory.build_inventory_ms"] = _median(s.ms for s in inv)
    m["sources.parquet_inventory.jobs"] = len(tracer.jobs_of(inv)) / len(inv) if inv else 0.0
    qspans = [s for s in tracer.spans if s.name.startswith("queries.")]
    qn = max(len(traced["query_mix"]), 1)
    for fam in ("tpch", "inventory_ops", "python_stage"):
        m[f"queries.{fam}_s"] = sum(s.ms for s in qspans if s.name == f"queries.{fam}") / 1000 / qn
    if qspans:
        qjobs = tracer.jobs_of(qspans)
        m["queries.jobs"] = len(qjobs) / qn
        m["queries.tasks"] = sp.tasks_of(spark, qjobs) / qn
    m["spark.jobs"] = tot["jobs"] / n
    m["spark.stages"] = tot["stages"] / n
    m["spark.tasks"] = tot["tasks"] / n
    m["spark.single_task_stage_share"] = tot["single_task_stages"] / max(tot["stages"], 1)
    m["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9 / n
    m["spark.executor_run_s"] = tot["run_ms"] / 1e3 / n
    m["spark.shuffle_write_bytes"] = tot["shuffle_write"] / n
    m["spark.input_bytes"] = tot["input"] / n
    m["spark.jobs_unattributed"] = float(sum(1 for j in job_ids if j not in attributed))
    m["python_workers.cpu_s"] = counters.worker_cpu_s / n
    m["driver.py_cpu_s"] = counters.py_cpu_s / n
    m["driver.jvm_cpu_s"] = max(0.0, counters.jvm_cpu_s - tot["cpu_ns"] / 1e9) / n
    m["py4j.calls"] = counters.py4j.calls / n
    m["py4j.wait_s"] = counters.py4j.wait_s / n
    # traced over untraced passes of the incremental loop, the only phase
    # with passes to spare: its first pass runs cold, so it is left out
    incr_untraced = untraced["sync_incremental"][1:]
    m["trace.overhead_share"] = _median(
        p["s"] for p in traced["sync_incremental"]
    ) / _median(p["s"] for p in incr_untraced) - 1
    return m


def run(args) -> dict:
    from workloads import PHASES, WORKLOADS

    from onetable_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    steal0 = sp.steal_ticks()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    try:
        spark_start_s = time.perf_counter() - t0
        ctx = Ctx(spark, args.seed)
        shape = WORKLOADS[args.workload]
        phases = {name: cls(ctx, shape) for name, cls in PHASES.items()}
        # phase -> seconds spent staging, measuring, checking
        took = {name: {} for name in phases}

        def timed(name, step, fn):
            t = time.perf_counter()
            out = fn()
            took[name][step] = time.perf_counter() - t
            return out

        for name, ph in phases.items():
            timed(name, "stage", lambda: ph.stage(str(WORK / name)))
        counters = None
        if args.trace:
            counters = sp.Counters(sp.Tracer(spark, f"{os.getpid()}"))
        untraced, traced = {}, {}
        for name, ph in phases.items():
            untraced[name], traced[name] = timed(
                name, "measure", lambda: measure(ph, args.seconds * SHARE[name], counters)
            )
        # the checks are untimed and independent: run them side by side
        with ThreadPoolExecutor(len(phases)) as pool:
            for f in [pool.submit(timed, name, "check", ph.check) for name, ph in phases.items()]:
                f.result()
        layers = None
        if args.trace:
            layers = layer_metrics(ctx, counters, traced, untraced)
            with open(SPANS_OUT, "w") as f:
                for span in counters.tracer.spans:
                    f.write(json.dumps(dataclasses.asdict(span)) + "\n")
        jvm = sp.jvm_pid()
        rss = sp.rss_peak_mb(os.getpid()) + (sp.rss_peak_mb(jvm) if jvm else 0.0)
    finally:
        _stop(spark)
    e2e = {"setup_s": spark_start_s + sum(t["stage"] for t in took.values())}
    for name, ph in phases.items():
        e2e.update(ph.summary(untraced[name]))
    e2e["driver_rss_peak_mb"] = rss
    steal = sp.steal_ticks() - steal0
    print(f"workload {args.workload} seed {args.seed} cpus {cpus} steal_ticks {steal}")
    print(f"  spark_start_s {spark_start_s:.3f} s")
    for k, t in took.items():
        print(f"  {k}: " + "  ".join(f"{step}_s {v:.3f}" for step, v in t.items())
              + f"  passes {len(untraced[k])} (+{len(traced[k])} traced)")
    for k, unit in E2E_UNITS.items():
        print(f"  {k} {e2e[k]:.4f} {unit}")
    print(f"  (incr_sync_tail_ms is p{e2e['incr_sync_tail_pct']:.0f} "
          f"of n={e2e['incr_sync_n']} syncs)")
    print(f"  error_rate {ctx.failed / max(ctx.attempted, 1):.4f} "
          f"({ctx.failed} failed of {ctx.attempted} ops and checks)")
    if layers is not None:
        for k, unit in layer_units().items():
            print(f"  {k} {layers[k]:.4f} {unit}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in BOUNDED}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("small_changes", "large_changes"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "onetable_spark" / "__init__.py").is_file():
        print(f"perfbench: no onetable_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _launch_env(len(os.sched_getaffinity(0)))
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
