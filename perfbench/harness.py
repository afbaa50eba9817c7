"""Closed-loop client and the statistics the benchmark reports.

One client drives a workload: the next operation starts only when the
previous one has returned. Every call runs under its own Spark job group,
so a per-operation timeout can cancel exactly its jobs, and the traced run
can attribute the event log to it. A call that raises or times out is
counted as failed and contributes no timing.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from tracing import Span


class OpTimeout(Exception):
    pass


@dataclass
class Op:
    """One operation of a pass: ``run`` performs it to a full-output action
    and may return started streaming queries' run ids (for attribution)."""

    name: str
    module: str  # dotted package path the call enters, e.g. "operators.dedup"
    run: Callable[[], list[str] | None]


@dataclass
class Result:
    op: str
    seconds: float | None  # None when the call failed
    error: str | None = None


@dataclass
class Client:
    spark: object
    timeout_s: float
    spans: list[Span] = field(default_factory=list)
    # called after each call's span has closed (the traced run drains the
    # listener bus here, so no report of a call arrives during the next one)
    after_call: Callable[[], None] | None = None
    _seq: int = 0

    def call(self, op: Op) -> Result:
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}-{op.name}"
        sc.setJobGroup(group, op.name, interruptOnCancel=True)
        done, fired = threading.Event(), threading.Event()

        def watchdog() -> None:
            if done.wait(self.timeout_s):
                return
            fired.set()
            # keep cancelling: a job the call submits after the deadline
            # must not run on unchecked
            while not done.is_set():
                sc.cancelJobGroup(group)
                done.wait(0.5)

        guard = threading.Thread(target=watchdog, daemon=True)
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        guard.start()
        run_ids: list[str] = []
        try:
            run_ids = op.run() or []
            seconds, error = time.perf_counter() - t0, None
        except Exception as exc:
            seconds, error = None, "timeout" if isinstance(exc, OpTimeout) else _short(exc)
        finally:
            done.set()
            guard.join()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if fired.is_set():  # past the deadline: failed, even if it returned
            seconds, error = None, "timeout"
        self.spans.append(Span(op.module, op.name, group, start_ms, time.time() * 1e3, run_ids))
        if self.after_call is not None:
            self.after_call()
        return Result(op.name, seconds, error)


def pass_seconds(results: list[Result]) -> float | None:
    """Busy time of a pass, or None if any of its calls failed."""
    if any(r.seconds is None for r in results):
        return None
    return sum(r.seconds for r in results)


def account(passes: list[list[Result]], mismatches: dict[str, list[str]]) -> tuple[int, int, list[str]]:
    """``(attempted, failed, errors)`` over every call of ``passes``.

    A call fails if it raised or timed out, or if its operation's output
    mismatched the oracle; a failed call's timing is dropped here, so no
    statistic computed afterwards can include it. A mismatch under a name
    that is not an operation (a row-count check) counts as one failure."""
    calls = [r for p in passes for r in p]
    names = {r.op for r in calls}
    bad = {k: v for k, v in mismatches.items() if v}
    for r in calls:
        if r.op in bad and r.seconds is not None:
            r.seconds, r.error = None, "oracle mismatch"
    failed = sum(r.seconds is None for r in calls) + sum(k not in names for k in bad)
    errors = sorted({f"{r.op}: {r.error}" for r in calls if r.error})
    errors += [e for v in bad.values() for e in v[:2]]
    return len(calls), failed, errors


def _short(exc: BaseException) -> str:
    lines = traceback.format_exception_only(type(exc), exc)
    return " ".join(" ".join(lines).split())[:400]


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_rank(n_min: int) -> float:
    """The highest whole percentile that leaves at least ten of ``n_min``
    samples above it; ``n_min`` is the sample count a workload guarantees,
    so the percentile is a constant of the workload."""
    if n_min < 20:
        raise ValueError(f"tail needs >= 20 samples, workload guarantees {n_min}")
    return math.floor(100 * (n_min - 10) / n_min)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]
