"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, ``local[N]`` with N the CPUs
this process may use. A single closed-loop client runs one cold pass of the
workload in its declared order, checks its outputs against the DuckDB oracle
outside the timed region, runs warm passes in seeded orders until
``--seconds`` have passed (and at least the workload's minimum), then sets
up six more times for the set-up median.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` additionally
runs the workload's traced passes with Spark's event log attached, and as
many untraced ones after them, and reports the per-layer metrics and the
tracing overhead. Everything is written under ``.perfbench_work/`` in the checkout.
The last stdout line is the result object; the line before it carries
provenance and detail.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
# The whole heap reserved up front, a fixed young generation and a fixed
# marking threshold: the JVM's resident high-water mark then follows what
# the workload keeps live, not G1's timing-dependent sizing decisions.
HEAP_OPTIONS = f"-Xms{DRIVER_MEM} -Xmn256m -XX:-G1UseAdaptiveIHOP"
OP_TIMEOUT_S = 60.0
EXTRA_SETUPS = 6

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

# modules whose calls get their own ``<module>.wall_s`` per-layer metric:
# those the workloads in BENCHMARK.json call
MODULE_SPANS = [
    "sources.ingest",
    "sources.registry",
    "plans.mta_models.build_all",
    "plans.mta_models.materialize",
    "metrics.guide",
    "operators.dedup",
    "operators.textprep",
    "streaming.upsert",
]

RATIOS = [
    "operators.dedup.lsh_verified_per_candidate",
    "operators.similarity.ann_candidates_per_query",
]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from tracing import COUNTER_NAMES, LAYERS

    unit = {"jobs": "count", "stages": "count", "tasks": "count", "rows_in": "count",
            "shuffle_mb": "MB", "spill_mb": "MB", "written_mb": "MB", "slot_util": "ratio"}
    out = {f"{layer}.{c}": unit.get(c, "s") for layer in LAYERS for c in COUNTER_NAMES}
    out.update({f"{m}.wall_s": "s" for m in MODULE_SPANS})
    out.update({r: "ratio" for r in RATIOS})
    out["tracing_overhead_s"] = "s"
    return out


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM, Python and DuckDB write inside the
    checkout, and size the session to the CPUs this process may use, before
    anything starts the JVM or calls ``tempfile``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # driver-only (the launcher JVM's own heap is smaller than -Xms)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{HEAP_OPTIONS}" pyspark-shell'
    # few glibc malloc arenas: the JVM's native memory (and so VmHWM) then
    # no longer depends on which threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.chdir(work)  # spark-warehouse/ and metastore files land here
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def _reset_hwm(pid: int) -> None:
    """Reset the process's resident-set high-water mark to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit (it exits
    when its stdin closes, which otherwise happens only as Python exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """Set-ups and passes of one workload in this process."""

    def __init__(self, workload):
        self.wl = workload
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.spark = None

    def setup(self) -> None:
        from mta_rtf_dbt_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}")
        self.session_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.wl.stage()
        self.setup_s.append(time.perf_counter() - t0)

    def passes(self, client, n: int, shuffle: bool = True) -> list[list]:
        out = []
        for _ in range(n):
            results = []
            for op in self.wl.ops(self.spark, shuffle):
                self.spark.catalog.clearCache()  # no op reuses another's cache
                results.append(client.call(op))
            out.append(results)
        return out


def _traced(
    run: Run, client, warm: list[list], work: str, cpus: int
) -> tuple[dict, list[list], list[list]]:
    """Per-layer metrics from passes run with the event log attached, and
    the traced passes and the untraced ones run after them. The tracing
    overhead compares the traced passes with untraced passes from both
    sides, so warming during the run does not read as tracing cost."""
    from harness import median, pass_seconds
    from tracing import EventLog, layer_rollup, read_log, reduce_log

    n = run.wl.trace_passes
    first_span = len(client.spans)
    log = EventLog(run.spark, os.path.join(work, "eventlog", str(time.time_ns())))
    client.after_call = log.drain
    traced = run.passes(client, n)
    client.after_call = None
    log.close()
    spans = client.spans[first_span:]
    counters = reduce_log(read_log(log.log_dir), spans, log.plans.plans)
    metrics = layer_rollup(spans, counters, n, cpus)
    after = run.passes(client, n)
    t = [x for x in map(pass_seconds, traced) if x is not None]
    u = [x for x in map(pass_seconds, warm + after) if x is not None]
    metrics["tracing_overhead_s"] = median(t) - median(u) if t and u else None
    if hasattr(run.wl, "lsh_ratios"):
        metrics.update(run.wl.lsh_ratios(run.spark))
    return metrics, traced, after


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("mta_rtf_dbt_spark/__init__.py", "tests/oracle_harness.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the project (missing {missing})", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    _prepare_env(work, cpus)

    from harness import Client, account, median, pass_seconds, percentile, tail_rank

    load_start = os.getloadavg()
    wl = WORKLOADS[args.workload](work, args.seed)
    run = Run(wl)
    run.setup()
    spark, sc = run.spark, run.spark.sparkContext
    client = Client(spark, OP_TIMEOUT_S)

    cpu_start = _cpu_times()
    t_measure = time.perf_counter()
    (cold,) = run.passes(client, 1, shuffle=False)
    # the check runs right after the cold pass: untimed, and a second
    # execution of every plan shape before the warm passes are timed
    t_check = time.perf_counter()
    try:
        mismatches = wl.check(spark)
    except Exception as exc:  # the verdict must still be printed
        mismatches = {"check": [f"check raised: {exc!r}"[:400]]}
    check_s = time.perf_counter() - t_check
    jvm = int(spark._jvm.ProcessHandle.current().pid())
    # the peak of each timed pass: the high-water mark is reset before it
    warm: list[list] = []
    pass_hwm_mb: list[float] = []
    while len(warm) < wl.min_warm_passes or time.perf_counter() - t_measure < args.seconds:
        _reset_hwm(jvm)
        warm += run.passes(client, 1)
        pass_hwm_mb.append(_vm_hwm_mb(jvm))
    steal = _steal_share(cpu_start, _cpu_times())
    extra: list[list] = []
    if args.trace:
        layer_metrics, traced, after = _traced(run, client, warm, work, cpus)
        extra = traced + after

    info = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": DRIVER_MEM,
        "heap_options": HEAP_OPTIONS,
        "spark_version": spark.version,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        "inputs_rows": wl.inputs,
        "inputs_bytes": wl.input_bytes(),
        "git_commit": _git_commit(),
    }
    for _ in range(EXTRA_SETUPS):
        run.spark.stop()
        run.setup()
    run.spark.stop()
    _stop_jvm()
    info["loadavg"] = {"start": list(load_start), "end": list(os.getloadavg())}
    info["steal_share"] = steal

    attempted, failed, errors = account([cold] + warm + extra, mismatches)
    samples = [r.seconds for p in warm for r in p if r.seconds is not None]
    passes = [x for x in map(pass_seconds, warm) if x is not None]
    n_min = wl.min_warm_passes * len(cold)
    tail_pct = tail_rank(n_min)
    end_to_end = {
        "setup_s": median(run.setup_s),
        "pass_s": median(passes) if passes else None,
        "op_p50_s": median(samples) if samples else None,
        "op_tail_s": percentile(samples, tail_pct) if len(samples) >= n_min else None,
        "peak_rss_mb": median(pass_hwm_mb),
    }
    by_op: dict[str, list[float]] = {}
    for r in (r for p in warm for r in p if r.seconds is not None):
        by_op.setdefault(r.op, []).append(r.seconds)
    info.update(
        {
            "op_tail": {"percentile": tail_pct, "samples": len(samples)},
            "warm_passes": len(warm),
            "fail_frac": failed / attempted,
            "errors": errors[:20],
            "check_s": check_s,
            "setup_samples_s": run.setup_s,
            "session_samples_s": run.session_s,
            # a single sample, dominated by JIT and class loading, that
            # spreads too far between runs on a shared host to be bounded
            "cold_pass_s": pass_seconds(cold),
            "cold_op_s": {r.op: r.seconds for r in cold},
            "pass_samples_s": passes,
            "pass_op_s": [{r.op: r.seconds for r in p} for p in warm],
            "pass_hwm_mb": pass_hwm_mb,
            "op_median_s": {op: median(v) for op, v in sorted(by_op.items())},
        }
    )
    correct = failed == 0 and None not in end_to_end.values()
    if args.trace:
        # the session layer is timed by the set-ups (no jobs run in it)
        layer_metrics["session.wall_s"] = layer_metrics["session.driver_s"] = median(run.session_s)
        info["end_to_end"] = end_to_end
        correct = correct and layer_metrics["tracing_overhead_s"] is not None
        metrics = {
            name: {"value": layer_metrics.get(name, 0.0), "unit": unit}
            for name, unit in per_layer_units().items()
        }
    else:
        metrics = {
            name: {"value": value, "unit": END_TO_END_UNITS[name]}
            for name, value in end_to_end.items()
        }
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
