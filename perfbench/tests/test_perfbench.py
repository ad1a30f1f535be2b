"""Tests of the event-log parser and interval attribution on a small
synthetic log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from run import tail_percentile  # noqa: E402

MB = 1024 * 1024


def _job(jid, submit_ms, end_ms, stages, desc=None):
    start = {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
             "Stage IDs": stages, "Properties": {}}
    if desc:
        start["Properties"]["spark.job.description"] = desc
    return [start, {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms}]


def _task(stage, run_ms, cpu_ns=0, accs=(), **metrics):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns}
    m.update(metrics)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": list(accs)}, "Task Metrics": m}


def _plan(*metrics):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {"metrics": [], "children": [
                {"metrics": [{"name": n, "accumulatorId": i, "metricType": t} for n, i, t in metrics],
                 "children": []}]}}


def _log(events):
    return eventlog.parse(json.dumps(e) for e in events)


def test_job_without_description_lands_in_the_interval_holding_its_submit_time():
    events = (
        _job(0, 1_000, 1_500, [0])  # setup
        + _job(1, 2_100, 2_300, [1])  # op 0 build (eager job, no description)
        + _job(2, 2_600, 2_900, [2, 3], desc="anything")  # op 0 drain
        + _job(3, 9_000, 9_100, [4])  # after every interval
        + [_task(0, 100), _task(1, 40), _task(2, 30), _task(3, 20), _task(3, 20), _task(4, 5)]
    )
    out = eventlog.attribute(_log(events), [
        (0.5, 2.0, "setup"), (2.0, 2.5, "op:0:build"), (2.5, 3.0, "op:0:drain")])
    by = out["by_key"]
    assert by["setup"]["jobs"] == 1 and by["setup"]["run_s"] == pytest.approx(0.1)
    assert by["op:0:build"]["jobs"] == 1 and by["op:0:build"]["tasks"] == 1
    assert by["op:0:drain"]["jobs"] == 1 and by["op:0:drain"]["tasks"] == 3
    assert by["op:0:drain"]["run_s"] == pytest.approx(0.07)
    assert by["op:0:drain"]["last_job_end_s"] == pytest.approx(2.9)
    assert out["unattributed_jobs"] == 1
    assert out["unattributed_run_s"] == pytest.approx(0.005)
    assert out["total_run_s"] == pytest.approx(0.215)


def test_interval_bounds_are_half_open_in_whole_ms():
    events = _job(0, 2_000, 2_001, [0]) + _job(1, 1_999, 2_000, [1]) + [_task(0, 1), _task(1, 1)]
    by = eventlog.attribute(_log(events), [(1.0, 2.0, "a"), (2.0, 3.0, "b")])["by_key"]
    assert by["a"]["jobs"] == 1 and by["b"]["jobs"] == 1


def test_a_reused_stage_belongs_to_the_first_job_listing_it():
    events = _job(0, 1_000, 1_100, [7]) + _job(1, 5_000, 5_100, [7, 8]) + [_task(7, 10), _task(8, 20)]
    by = eventlog.attribute(_log(events), [(0.0, 2.0, "a"), (4.0, 6.0, "b")])["by_key"]
    assert by["a"]["run_s"] == pytest.approx(0.01)
    assert by["b"]["run_s"] == pytest.approx(0.02)


def test_python_accumulables_are_converted_by_their_declared_metric_type():
    accs = [
        {"ID": 11, "Name": "time to run Python workers", "Update": "1500"},
        {"ID": 12, "Name": "time to initialize Python workers", "Update": "2000000000"},
        {"ID": 13, "Name": "data sent to Python workers", "Update": str(3 * MB)},
        {"ID": 14, "Name": "data returned from Python workers", "Update": str(MB // 2)},
        {"ID": 15, "Name": "time to start Python workers", "Update": "250"},
        {"ID": 16, "Name": "number of output rows", "Update": "99"},
    ]
    events = [
        _plan(("time to run Python workers", 11, "timing"),
              ("time to initialize Python workers", 12, "nsTiming"),
              ("data sent to Python workers", 13, "size"),
              ("data returned from Python workers", 14, "size")),
        # no plan declares accumulator 15: its name gives the default (ms)
        *_job(0, 1_000, 1_200, [0]),
        _task(0, 100, accs=accs),
        _task(0, 100, accs=accs[:1]),
    ]
    c = eventlog.attribute(_log(events), [(0.0, 2.0, "op")])["by_key"]["op"]
    assert c["python.run_s"] == pytest.approx(3.0)
    assert c["python.init_s"] == pytest.approx(2.0)
    assert c["python.sent_mb"] == pytest.approx(3.0)
    assert c["python.returned_mb"] == pytest.approx(0.5)
    assert c["python.start_s"] == pytest.approx(0.25)


def test_task_metrics_units_and_peak_memory_is_a_maximum():
    t1 = _task(0, 2_000, cpu_ns=1_500_000_000, **{
        "JVM GC Time": 300, "Peak Execution Memory": 64 * MB, "Disk Bytes Spilled": 2 * MB,
        "Shuffle Read Metrics": {"Remote Bytes Read": MB, "Local Bytes Read": MB},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 4 * MB},
        "Input Metrics": {"Bytes Read": 8 * MB}, "Output Metrics": {"Bytes Written": MB}})
    t2 = _task(0, 1_000, **{"Peak Execution Memory": 16 * MB})
    c = eventlog.attribute(_log(_job(0, 100, 200, [0]) + [t1, t2]), [(0.0, 1.0, "k")])["by_key"]["k"]
    assert (c["run_s"], c["cpu_s"], c["gc_s"]) == pytest.approx((3.0, 1.5, 0.3))
    assert (c["shuffle_read_mb"], c["shuffle_write_mb"], c["spill_mb"]) == pytest.approx((2, 4, 2))
    assert (c["scan_mb"], c["output_mb"], c["peak_mem_mb"]) == pytest.approx((8, 1, 64))


def test_the_run_emits_exactly_the_metrics_benchmark_json_declares(tmp_path):
    import run
    from proctree import Sampler

    def op(name, n_pass, t):
        return {"op": name, "pass": n_pass, "t0": t, "t_built": t + 0.2, "t_end": t + 0.5,
                "rows": 3, "ok": True}

    rec = {"t_spawn": 0.0, "t_session": 1.0, "t_warmup": 2.0, "t_prepare": 3.0,
           "prepare_items": {"hourly": 0.5}, "passes": 1, "artifacts": {"ae": "cold"},
           "ops": [op("forecast_ab_neural", -1, 3.0), op("sink_x", 0, 4.0),
                   op("forecast_ab_neural", 0, 5.0)]}
    sampler = Sampler(0)
    sampler.samples = [(t, t * 2.0, 100 * MB, 2, 10 * MB) for t in (0.0, 2.0, 4.2, 5.2, 6.0)]
    log = _log(_job(0, 4_300, 4_400, [0]) + [_task(0, 50)])
    declared = json.load(open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")))
    e2e, info = run.end_to_end(rec, sampler)
    layers = run.per_layer(rec, sampler, log, str(tmp_path), "load_clean")
    assert set(e2e) == {m["name"] for m in declared["end_to_end"]}
    assert set(layers) == {m["name"] for m in declared["per_layer"]}
    assert all(run.unit(m["name"]) == m["unit"] for m in declared["end_to_end"] + declared["per_layer"])
    assert info["wall_s"] == pytest.approx(1.0) and info["op_tail_percentile"] == 100
    # 2 CPU-s per second over 4.0-4.5 and 5.0-5.5: one pass
    assert e2e["cpu_s"] == pytest.approx(2.0)
    assert layers["op.p50_s"] == pytest.approx(0.5) and layers["op.tail_s"] == pytest.approx(0.5)
    # sink_x drains 0.1 s after its job; forecast_ab_neural ran no job, so
    # all 0.3 s of its collect count
    assert layers["exec.jobs"] == 1 and layers["drain.s"] == pytest.approx(0.4)
    assert layers["stage.forecast_s"] == 0.5


def test_cpu_s_takes_each_operation_at_its_median_over_the_timed_passes():
    import run
    from proctree import Sampler

    # operation a in the first second of each 2 s pass, b in the second;
    # one CPU-s per second, except 5 in a's second run and in b's third
    ops = [{"op": name, "pass": p, "t0": 2.0 * p + k, "t_built": 2.0 * p + k, "t_end": 2.0 * p + k + 1}
           for p in range(3) for k, name in enumerate("ab")]
    rates = [1, 1, 5, 1, 1, 5]
    sampler = Sampler(0)
    sampler.samples = [(float(t), float(sum(rates[:t])), MB, 0, 0) for t in range(7)]
    rec = {"t_spawn": 0.0, "t_prepare": 0.0, "passes": 3, "ops": ops}
    e2e, info = run.end_to_end(rec, sampler)
    assert info["pass_cpu_s"] == [2.0, 6.0, 6.0]
    assert e2e["cpu_s"] == pytest.approx(2.0)


def test_tail_percentile_keeps_ten_samples_above_it():
    vals = [float(i) for i in range(1, 101)]
    assert tail_percentile(vals) == (90, 90.0)
    assert tail_percentile(vals[:40]) == (75, 30.0)
    assert tail_percentile([3.0, 1.0, 2.0]) == (100, 3.0)


def test_digest_ignores_row_and_column_order_and_float_noise_below_ten_digits():
    from digest import digest

    rows = [(1, 0.1 + 0.2, "a"), (2, float("nan"), None)]
    assert digest(["k", "x", "s"], rows) == digest(
        ["s", "k", "x"], [(None, 2, float("nan")), ("a", 1, 0.3)])
    assert digest(["x"], [(1.0,)]) != digest(["x"], [(1.0000001,)])
