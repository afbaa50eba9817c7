"""Spans around calls into the package's layers, and the reducer that rolls
Spark's own event log up per span.

The benchmark sets a job group before each call (``Span.group``); Spark tags
every job the call submits with it, and a streaming query tags its
micro-batch jobs with the query's ``runId`` (recorded in ``Span.run_ids``).
The reducer reads the JSON-lines event log, attributes jobs, stages and
tasks to spans through those keys, and returns one ``Counters`` per span. It uses the standard library only, so it can be
tested on a hand-written log.

Per span:

- ``wall_s``: the span's own duration;
- ``job_s``: the part of it covered by at least one running job (job
  intervals are clipped to the span, so ``job_s <= wall_s``);
- ``driver_s = wall_s - job_s``: plan building, planning and scheduling
  gaps on the driver, so ``driver_s + job_s == wall_s`` exactly;
- task totals summed from ``SparkListenerTaskEnd``;
- ``plan_s``: Catalyst optimisation and planning time of the span's SQL
  executions, fed in by ``PlanListener`` with the time each execution was
  reported; the client drains the listener bus after every traced call, so
  a report belongs to the last span that started before it.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from collections.abc import Iterable
from dataclasses import dataclass, field, fields

LAYERS = ["session", "sources", "plans", "metrics", "operators", "streaming"]


@dataclass
class Span:
    module: str  # dotted package path the call enters, e.g. "plans.relational"
    op: str
    group: str
    start_ms: float
    end_ms: float
    run_ids: list[str] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.module.split(".", 1)[0]


@dataclass
class Counters:
    wall_s: float = 0.0
    job_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    plan_s: float = 0.0
    rows_in: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    written_mb: float = 0.0

    def add(self, other: Counters) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self, cores: int) -> dict[str, float]:
        out = {f.name: getattr(self, f.name) for f in fields(self)}
        busy = self.job_s * cores
        out["slot_util"] = self.task_run_s / busy if busy > 0 else 0.0
        return out


COUNTER_NAMES = [f.name for f in fields(Counters)] + ["slot_util"]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def reduce_log(
    lines: Iterable[str], spans: list[Span], plans: list[tuple[float, float]] = ()
) -> list[Counters]:
    """One ``Counters`` per span, in span order. ``plans`` holds
    ``(reported_at_ms, optimisation + planning ms)`` per SQL execution."""
    owner: dict[str, int] = {}
    for i, s in enumerate(spans):
        owner[s.group] = i
        for rid in s.run_ids:
            owner[rid] = i
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"group": props.get("spark.jobGroup.id"), "start": ev["Submission Time"]}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)

    out = [Counters(wall_s=(s.end_ms - s.start_ms) / 1e3) for s in spans]
    intervals: list[list[tuple[float, float]]] = [[] for _ in spans]
    for job in jobs.values():
        i = owner.get(job["group"])
        if i is None:
            continue
        out[i].jobs += 1
        lo = max(job["start"], spans[i].start_ms)
        hi = min(job.get("end", spans[i].end_ms), spans[i].end_ms)
        if hi > lo:
            intervals[i].append((lo, hi))
    stages_seen: list[set[int]] = [set() for _ in spans]
    for ev in task_ends:
        jid = stage_job.get(ev["Stage ID"])
        i = owner.get(jobs[jid]["group"]) if jid in jobs else None
        if i is None:
            continue
        m = ev.get("Task Metrics") or {}
        c = out[i]
        stages_seen[i].add(ev["Stage ID"])
        c.tasks += 1
        c.task_run_s += m.get("Executor Run Time", 0) / 1e3
        c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        c.gc_s += m.get("JVM GC Time", 0) / 1e3
        c.rows_in += (m.get("Input Metrics") or {}).get("Records Read", 0)
        c.shuffle_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        c.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
        c.written_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    starts = [s.start_ms for s in spans]
    for at_ms, ms in plans:
        i = bisect.bisect_right(starts, at_ms) - 1
        if i >= 0:
            out[i].plan_s += ms / 1e3
    for i, c in enumerate(out):
        c.stages = len(stages_seen[i])
        c.job_s = min(_union_ms(intervals[i]) / 1e3, c.wall_s)
        c.driver_s = c.wall_s - c.job_s
    return out


def read_log(log_dir: str) -> list[str]:
    """Lines of the single uncompressed event log file under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return fh.readlines()


class PlanListener:
    """A ``QueryExecutionListener`` implemented in Python through py4j: for
    every finished SQL execution it records when it was reported and the
    optimisation and planning time of ``queryExecution().tracker()``."""

    def __init__(self, gateway):
        self._gateway = gateway
        self.plans: list[tuple[float, float]] = []
        self.errors: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        try:
            phases = self._gateway.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                qe.tracker().phases()
            )
            ms = sum(phases.get(k).durationMs() for k in ("optimization", "planning") if phases.containsKey(k))
            self.plans.append((time.time() * 1e3, float(ms)))
        except Exception as exc:  # a py4j callback must not raise into the JVM
            self.errors.append(repr(exc))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class EventLog:
    """Spark's event logging listener, attached to a running context and
    detached again, so one process can run untraced and traced passes side
    by side. Also registers a ``PlanListener``."""

    def __init__(self, spark, log_dir: str):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        os.makedirs(log_dir, exist_ok=True)
        self.log_dir = log_dir
        conf = (
            self._jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            spark.sparkContext.applicationId,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
            conf,
            self._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)
        gateway = spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        self.plans = PlanListener(gateway)
        spark._jsparkSession.listenerManager().register(self.plans)

    def drain(self) -> None:
        """Wait until every queued listener event has been delivered."""
        self._jsc.listenerBus().waitUntilEmpty()

    def close(self) -> None:
        """Drain the listener bus, then detach and flush both listeners."""
        self.drain()
        self._spark._jsparkSession.listenerManager().unregister(self.plans)
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()


def layer_rollup(
    spans: list[Span], counters: list[Counters], n_passes: int, cores: int
) -> dict[str, float]:
    """Per-pass means of every counter per layer (``<layer>.<counter>``),
    plus per-module ``wall_s`` (``<module>.wall_s``)."""
    layers = {name: Counters() for name in LAYERS}
    modules: dict[str, float] = {}
    for span, c in zip(spans, counters):
        layers[span.layer].add(c)
        modules[span.module] = modules.get(span.module, 0.0) + c.wall_s
    out: dict[str, float] = {}
    for name, c in layers.items():
        for key, value in c.as_dict(cores).items():
            out[f"{name}.{key}"] = value if key == "slot_util" else value / n_passes
    for module, wall in modules.items():
        out[f"{module}.wall_s"] = wall / n_passes
    return out
