"""Tests of the benchmark's own pieces.

    python -m pytest perfbench/test_perfbench.py -q

The reducer and the statistics are tested on hand-written inputs; the
attribution, the failure accounting and the workloads themselves run on a
real local session at smoke size (48-trip fixture, sf0.001-sized tables).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from harness import Client, Op, Result, account, pass_seconds, percentile, tail_rank  # noqa: E402
from tracing import Counters, Span, layer_rollup, reduce_log  # noqa: E402


def _job(jid, group, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, cpu_ns, rows=0, shuffle=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
        "Disk Bytes Spilled": 0, "Input Metrics": {"Records Read": rows},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Output Metrics": {"Bytes Written": written}}}


def test_reducer_attributes_by_group_and_run_id():
    spans = [
        Span("plans.relational", "q1", "g1", 1000, 2000),
        Span("streaming.upsert", "sink", "g2", 3000, 5000, run_ids=["run-7"]),
    ]
    events = (
        _job(0, "g1", 1100, 1400, [0, 1])
        + _job(1, "g1", 1300, 1600, [2])  # overlaps job 0: counted once
        + _job(2, "run-7", 3500, 4000, [3])  # streaming micro-batch
        + _job(3, "elsewhere", 3600, 3700, [4])  # not ours
        + [_task(0, 100, 5e7, rows=10), _task(1, 50, 1e7, shuffle=2_000_000),
           _task(2, 30, 1e7), _task(3, 200, 1e8, written=3_000_000), _task(4, 999, 9e9)]
    )
    c1, c2 = reduce_log([json.dumps(e) for e in events], spans, plans=[(1500, 40.0), (2500, 99.0)])
    assert (c1.jobs, c1.stages, c1.tasks, c1.rows_in) == (2, 3, 3, 10)
    assert c1.job_s == pytest.approx(0.5)  # union of [1100,1400] and [1300,1600]
    assert c1.plan_s == pytest.approx(0.139)  # reported before the next span started
    assert c1.shuffle_mb == pytest.approx(2.0)
    assert (c2.jobs, c2.tasks) == (1, 1)
    assert c2.job_s == pytest.approx(0.5)
    assert c2.written_mb == pytest.approx(3.0)
    assert c2.task_cpu_s == pytest.approx(0.1)
    for span, c in zip(spans, (c1, c2)):
        assert c.wall_s == pytest.approx((span.end_ms - span.start_ms) / 1e3)
        assert c.driver_s + c.job_s == pytest.approx(c.wall_s)


def test_reducer_clips_jobs_to_their_span():
    spans = [Span("operators.dedup", "x", "g", 1000, 1500)]
    (c,) = reduce_log([json.dumps(e) for e in _job(0, "g", 900, 1800, [])], spans)
    assert c.job_s == pytest.approx(0.5) and c.driver_s == pytest.approx(0.0)


def test_layer_rollup_is_per_pass_and_keeps_the_sum():
    spans = [Span("plans.relational", "a", "g1", 0, 0), Span("plans.tpch_extra", "b", "g2", 0, 0)]
    counters = [Counters(wall_s=2.0, job_s=1.5, driver_s=0.5, task_run_s=4.0),
                Counters(wall_s=4.0, job_s=1.0, driver_s=3.0)]
    out = layer_rollup(spans, counters, n_passes=2, cores=4)
    assert out["plans.wall_s"] == pytest.approx(3.0)
    assert out["plans.driver_s"] + out["plans.job_s"] == pytest.approx(out["plans.wall_s"])
    assert out["plans.slot_util"] == pytest.approx(4.0 / (2.5 * 4))
    assert out["plans.tpch_extra.wall_s"] == pytest.approx(2.0)
    assert out["operators.wall_s"] == 0.0


@pytest.mark.parametrize("n", [20, 22, 26, 27, 33, 50, 100, 1000])
def test_tail_rank_leaves_ten_samples_beyond(n):
    pct = tail_rank(n)
    values = [float(v) for v in range(n)]
    assert sum(v > percentile(values, pct) for v in values) >= 10
    assert n * (100 - pct - 1) < 1000  # the next whole percentile would leave fewer


def test_tail_rank_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail_rank(19)


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    assert percentile([3.0], 99) == 3.0


def test_account_drops_timings_of_failed_and_mismatched_calls():
    passes = [
        [Result("a", 1.0), Result("b", None, "boom")],
        [Result("a", 2.0), Result("b", 1.0)],
    ]
    attempted, failed, errors = account(passes, {"a": ["a: row 0 differs"], "rows_x": ["bad"], "b": []})
    assert attempted == 4
    assert failed == 4  # two mismatched calls of a, one raised call of b, one row check
    assert all(r.seconds is None for p in passes for r in p if r.op == "a")
    assert passes[1][1].seconds == 1.0
    assert pass_seconds(passes[0]) is None and pass_seconds(passes[1]) is None
    assert "b: boom" in errors and "a: row 0 differs" in errors and "bad" in errors


# ---- real local session ----------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from mta_rtf_dbt_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_failing_and_timed_out_calls_are_counted_not_timed(spark):
    client = Client(spark, timeout_s=2.0)

    def boom():
        raise RuntimeError("forced failure")

    def slow():
        spark.range(0, 10**12, numPartitions=4).selectExpr("sum(id * id)").collect()

    def fine():
        spark.range(10).write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    results = [client.call(Op(n, "plans.relational", f)) for n, f in
               [("boom", boom), ("slow", slow), ("fine", fine)]]
    assert time.perf_counter() - t0 < 60
    assert results[0].seconds is None and "forced failure" in results[0].error
    assert results[1].seconds is None and results[1].error == "timeout"
    assert results[2].seconds is not None and results[2].error is None
    attempted, failed, _ = account([results], {})
    assert (attempted, failed) == (3, 2)


def test_event_log_attribution_on_a_live_session(spark, tmp_path):
    from tracing import EventLog, read_log

    src = tmp_path / "in"
    spark.range(200).write.parquet(str(src / "part"))

    def batch():
        spark.range(5000).selectExpr("id % 7 AS k").groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()

    def stream():
        schema = spark.read.parquet(str(src / "part")).schema
        q = (spark.readStream.schema(schema).parquet(str(src / "part"))
             .writeStream.format("parquet").option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start(str(tmp_path / "out")))
        assert q.awaitTermination(120)
        return [str(q.runId)]

    log = EventLog(spark, str(tmp_path / "log"))
    client = Client(spark, timeout_s=120, after_call=log.drain)
    client.call(Op("batch", "plans.relational", batch))
    client.call(Op("sink", "streaming.upsert", stream))
    log.close()
    assert log.plans.errors == []
    c_batch, c_sink = reduce_log(read_log(log.log_dir), client.spans, log.plans.plans)
    assert c_batch.jobs >= 1 and c_batch.tasks >= 1 and c_batch.plan_s > 0
    assert client.spans[1].run_ids and c_sink.jobs >= 1  # keyed by the query's runId
    for c in (c_batch, c_sink):
        assert 0 < c.job_s <= c.wall_s
        assert c.driver_s + c.job_s == pytest.approx(c.wall_s)


def _one_pass(spark, wl):
    wl.stage()
    client = Client(spark, timeout_s=120)
    results = [client.call(op) for op in wl.ops(spark)]
    assert [r.error for r in results if r.error] == []
    return wl.check(spark)


def test_mta_service_day_smoke(spark, tmp_path):
    from workloads import MtaServiceDay

    wl = MtaServiceDay(str(tmp_path), seed=3)
    wl.N_TRIPS = 48
    errs = _one_pass(spark, wl)
    assert len(errs) == 16  # M1-M12 and four model row counts
    assert {k: v for k, v in errs.items() if v} == {}


def test_registry_workload_smoke(spark, tmp_path):
    from workloads import CorpusCuration

    wl = CorpusCuration(str(tmp_path), seed=3)
    wl.SF = 0.001
    wl.ENTRIES = ["dedup_exact", "q1_pricing_summary"]
    errs = _one_pass(spark, wl)
    assert set(errs) == {"dedup_exact", "q1_pricing_summary", *wl.SINKS}
    assert {k: v for k, v in errs.items() if v} == {}


def test_cold_pass_runs_in_declared_order(spark, tmp_path):
    from workloads import CorpusCuration

    wl = CorpusCuration(str(tmp_path), seed=3)
    assert [op.name for op in wl.ops(spark, shuffle=False)] == wl.ENTRIES + wl.SINKS
    shuffled = [[op.name for op in wl.ops(spark)] for _ in range(4)]
    assert all(sorted(names) == sorted(wl.ENTRIES + wl.SINKS) for names in shuffled)
    assert len({tuple(names) for names in shuffled}) > 1


def test_steal_share_is_the_steal_column_over_all_ticks():
    import run

    start = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    end = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]  # 60 user, 10 system, 20 idle, 10 steal
    assert run._steal_share(start, end) == pytest.approx(0.1)
    assert run._steal_share(start, start) == 0.0


def test_benchmark_json_matches_what_the_run_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
