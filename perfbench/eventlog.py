"""Spark event-log parser and interval attribution.

Reads an uncompressed, non-rolling event log (one JSON event per line) and
puts every job under the benchmark interval (a setup phase, or the build or
drain phase of one operation) that contains the job's submission time. Jobs
need no description: prepare's pool threads and streaming micro-batches set
none. A task belongs to the job whose ``Stage IDs`` first listed its stage.

Task counters come from ``Task Metrics``. The Python-island counters are SQL
accumulables on the Python exec nodes; their unit comes from the
``metricType`` the plan declares for the accumulator (``timing`` is ms,
``nsTiming`` ns, ``size`` bytes).
"""

from __future__ import annotations

import bisect
import json

MB = 1024 * 1024
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / MB}
# metric type assumed when no plan declared the accumulator
_DEFAULT_TYPE = {"run_s": "timing", "init_s": "timing", "start_s": "timing",
                 "sent_mb": "size", "returned_mb": "size"}
COUNTERS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "scan_mb", "output_mb")


def _walk_plan(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = m.get("metricType", "")
    for c in plan.get("children", ()):
        _walk_plan(c, out)


def parse(lines) -> dict:
    """Jobs and tasks from an iterable of event-log lines.

    Returns ``{"jobs": {id: {"submit_ms", "end_ms", "stages"}}, "tasks":
    [task dict]}``; each task has its stage, the counters of ``COUNTERS``
    (less jobs/tasks), ``peak_mem_mb`` and the Python counters in seconds/MB."""
    jobs: dict[int, dict] = {}
    raw_tasks = []
    metric_types: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit_ms": ev["Submission Time"], "end_ms": None,
                                  "stages": list(ev.get("Stage IDs", ()))}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            raw_tasks.append(ev)
        elif "sparkPlanInfo" in ev:
            _walk_plan(ev["sparkPlanInfo"], metric_types)
    tasks = []
    for ev in raw_tasks:
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        t = {
            "stage": ev["Stage ID"],
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
            "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
            "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
            "scan_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
            "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
            "peak_mem_mb": m.get("Peak Execution Memory", 0) / MB,
        }
        for key in PYTHON_METRICS.values():
            t["python." + key] = 0.0
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key is None:
                continue
            kind = metric_types.get(int(acc["ID"])) or _DEFAULT_TYPE[key]
            t["python." + key] += float(acc.get("Update") or 0) * _UNIT_SCALE.get(kind, 1.0)
        tasks.append(t)
    return {"jobs": jobs, "tasks": tasks}


def read(path: str) -> dict:
    with open(path) as f:
        return parse(f)


def empty_counters() -> dict[str, float]:
    out = {k: 0.0 for k in COUNTERS}
    out["peak_mem_mb"] = 0.0
    out["last_job_end_s"] = 0.0
    for key in PYTHON_METRICS.values():
        out["python." + key] = 0.0
    return out


def attribute(log: dict, intervals: list[tuple[float, float, str]]) -> dict:
    """Fold jobs and tasks into ``intervals`` — (start_s, end_s, key), not
    overlapping — by job submission time (an interval is [start, end) in whole
    ms). Returns ``{"by_key": {key: counters}, "unattributed_run_s",
    "total_run_s", "unattributed_jobs"}``."""
    ivs = sorted((int(a * 1000), int(b * 1000), k) for a, b, k in intervals)
    starts = [a for a, _, _ in ivs]
    by_key: dict[str, dict] = {}
    job_key: dict[int, str | None] = {}
    for jid, job in log["jobs"].items():
        i = bisect.bisect_right(starts, job["submit_ms"]) - 1
        key = ivs[i][2] if i >= 0 and job["submit_ms"] < ivs[i][1] else None
        job_key[jid] = key
        if key is None:
            continue
        c = by_key.setdefault(key, empty_counters())
        c["jobs"] += 1
        if job["end_ms"] is not None:
            c["last_job_end_s"] = max(c["last_job_end_s"], job["end_ms"] / 1e3)
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for s in log["jobs"][jid]["stages"]:
            stage_job.setdefault(s, jid)
    total = unattributed = 0.0
    for t in log["tasks"]:
        total += t["run_s"]
        key = job_key.get(stage_job.get(t["stage"], -1))
        if key is None:
            unattributed += t["run_s"]
            continue
        c = by_key[key]
        c["tasks"] += 1
        for k, v in t.items():
            if k == "peak_mem_mb":
                c[k] = max(c[k], v)
            elif k != "stage":
                c[k] += v
    return {
        "by_key": by_key,
        "unattributed_run_s": unattributed,
        "total_run_s": total,
        "unattributed_jobs": sum(1 for k in job_key.values() if k is None),
    }
