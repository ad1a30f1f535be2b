"""Benchmark command: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload load_clean --seed 1 --seconds 2 --trace 0

Starts one client process (``client.py``) that sets up the package on the
workload's input tables (``perfbench/data``) and an empty artifact store,
and runs the workload's operations in a closed loop for ``--seconds``. This
process samples the client's process tree from ``/proc`` meanwhile, and with
``--trace 1`` turns on Spark's event log and folds it into per-layer metrics
(``eventlog.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). A human summary goes to stderr. Everything the run writes
lives under ``.perfbench_work/`` in the checkout; the run's own directory is
removed at exit. Exit code 0 only if every operation's result matched its
reference digest.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from client import PKG  # noqa: E402
from proctree import Sampler  # noqa: E402
from workloads import LOAD_CLEAN_STAGES, SETTINGS, stage_of  # noqa: E402

MB = 1024 * 1024
RUN_TIMEOUT_S = 140  # plus --seconds
PREPARE_ITEMS = (
    "hourly", "ml_embedded", "text_shingles", "text_mh_bands", "lsh_bands", "lsh_near_pairs",
    "pq_codebooks", "sem_centroids", "prepared", "sp_banks", "ae_weights", "fc_weights",
    "copurchase_edges", "copurchase_deg", "copurchase_wedges", "cleaned_points",
    "trading_pairs", "bipartite_edges", "span_islands", "text_mh_pairs", "text_mh_cc", "ppl_topk",
)
EXEC_COUNTERS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "peak_mem_mb", "scan_mb", "output_mb")


def unit(metric: str) -> str:
    """A metric's unit, from the last part of its name."""
    return {"s": "s", "mb": "MB", "ratio": "ratio"}.get(re.split(r"[._]", metric)[-1], "count")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def data_dir(sf: float) -> str:
    """The input tables for scale factor ``sf``, kept with the benchmark."""
    return os.path.join(HERE, "data", f"sf{sf}")


def client_env(run_dir: str, store: str, data: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.getcwd() + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(run_dir, "ckpt"),
        "SPARK_GRAFT_WEIGHTS_DIR": store,
        "SPARK_GRAFT_ORACLE_SF_DIR": data,
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    return env


def new_run_dir(work: str, tag: str) -> str:
    d = os.path.join(work, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("local", "ckpt", "tmp", "eventlog"):
        os.makedirs(os.path.join(d, sub))
    return d


def stop_tree(proc: subprocess.Popen, seen: set[int]) -> None:
    """Kill what is left of the client's tree (the worker daemon runs in a
    process group of its own), then wait until every process ever seen in
    the tree has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for pid in seen - {proc.pid}:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in seen):
        time.sleep(0.05)


def run_client(spec: dict, run_dir: str, env: dict, timeout: float):
    """Run one client under a process-tree sampler; returns (record or None, sampler)."""
    spec_path = os.path.join(run_dir, "spec.json")
    spec["out"] = os.path.join(run_dir, "record.json")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(os.path.join(run_dir, "client.log"), "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), spec_path],
            stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=run_dir, start_new_session=True,
        )
        sampler = Sampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"client timed out after {timeout}s")
        sampler.stop()
        stop_tree(proc, sampler.seen)
    if proc.returncode != 0 or not os.path.exists(spec["out"]):
        with open(os.path.join(run_dir, "client.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        log(f"client failed (exit {proc.returncode}):\n{tail}")
        return None, sampler
    with open(spec["out"]) as f:
        return json.load(f), sampler


def tail_percentile(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least 10 samples above it
    (nearest rank) and its value; the maximum (100) when that percentile
    would not lie above the median, i.e. with fewer than 20 samples."""
    n, s = len(values), sorted(values)
    p = math.floor(100 * (1 - 10 / n))
    if p <= 50:
        return 100, s[-1]
    return p, s[math.ceil(p / 100 * n) - 1]


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total / MB


def timed(rec: dict) -> list[tuple[int, dict]]:
    """(index, op) of the operations in timed passes."""
    return [(i, o) for i, o in enumerate(rec["ops"]) if o["pass"] >= 0]


def untimed(rec: dict) -> list[dict]:
    """The operations of the untimed passes (the first pass and the warm passes)."""
    return [o for o in rec["ops"] if o["pass"] < 0]


def pass_sums(ops: list[dict], values: list[float]) -> list[float]:
    """Sum of ``values`` per pass, in run order (passes 0, 1, ... or -1, -2, ...)."""
    sums: dict[int, float] = {}
    for o, v in zip(ops, values):
        sums[o["pass"]] = sums.get(o["pass"], 0.0) + v
    return [sums[k] for k in sorted(sums, key=abs)]


def end_to_end(rec: dict, sampler: Sampler) -> tuple[dict[str, float], dict]:
    ops = [o for _, o in timed(rec)]
    lat = [o["t_end"] - o["t0"] for o in ops]
    cpu = [sampler.cpu_between(o["t0"], o["t_end"]) for o in ops]
    per_op: dict[str, list[float]] = {}
    op_cpu: dict[str, list[float]] = {}
    for o, v, c in zip(ops, lat, cpu):
        per_op.setdefault(o["op"], []).append(round(v, 3))
        op_cpu.setdefault(o["op"], []).append(c)
    pct, tail = tail_percentile(lat)
    metrics = {
        "setup_s": rec["t_prepare"] - rec["t_spawn"],
        # a pass's CPU, each operation at its median over the timed passes,
        # so that a burst in one operation of one pass does not count
        "cpu_s": sum(statistics.median(v) for v in op_cpu.values()),
    }
    walls, pre = pass_sums(ops, lat), untimed(rec)
    info = {"run_s": time.time() - rec["t_spawn"], "wall_s": statistics.median(walls),
            "rss_mb": statistics.median(
                x[2] for x in sampler.samples if ops[0]["t0"] <= x[0] <= ops[-1]["t_end"]) / MB,
            "op_p50_s": statistics.median(lat), "op_tail_s": tail, "op_tail_percentile": pct,
            "op_samples": len(lat), "passes": rec["passes"],
            "untimed_pass_walls_s": [round(v, 3) for v in pass_sums(pre, [o["t_end"] - o["t0"] for o in pre])],
            "pass_walls_s": [round(v, 3) for v in walls],
            "pass_cpu_s": [round(v, 3) for v in pass_sums(ops, cpu)], "op_latency_s": per_op,
            "op_cpu_s": {k: [round(c, 3) for c in v] for k, v in op_cpu.items()}}
    return metrics, info


def intervals(rec: dict) -> list[tuple[float, float, str]]:
    out = [
        (rec["t_spawn"], rec["t_session"], "setup:session"),
        (rec["t_session"], rec["t_warmup"], "setup:warmup"),
        (rec["t_warmup"], rec["t_prepare"], "setup:prepare"),
    ]
    pre = untimed(rec)
    if pre:
        out.append((pre[0]["t0"], pre[-1]["t_end"], "setup:untimed_passes"))
    for i, o in timed(rec):
        out.append((o["t0"], o["t_built"], f"op:{i}:build"))
        out.append((o["t_built"], o["t_end"], f"op:{i}:drain"))
    return out


def per_layer(rec: dict, sampler: Sampler, ev: dict, store: str, workload: str) -> dict[str, float]:
    att = eventlog.attribute(ev, intervals(rec))
    by = att["by_key"]
    zero = eventlog.empty_counters()
    passes = rec["passes"]
    m: dict[str, float] = {}

    m["session.start_s"] = rec["t_session"] - rec["t_spawn"]
    m["session.warmup_s"] = rec["t_warmup"] - rec["t_session"]
    m["session.peak_rss_mb"] = max(s[2] for s in sampler.samples) / MB
    m["session.python_workers_peak"] = max(s[3] for s in sampler.samples)
    m["session.python_workers_rss_mb"] = max(s[4] for s in sampler.samples) / MB
    m["session.untimed_passes_s"] = sum(o["t_end"] - o["t0"] for o in untimed(rec))

    items = rec["prepare_items"]
    prep = by.get("setup:prepare", zero)
    m["prepare.wall_s"] = rec["t_prepare"] - rec["t_warmup"]
    m["prepare.item_sum_s"] = sum(items.values())
    m["prepare.max_item_s"] = max(items.values(), default=0.0)
    m["prepare.jobs"] = prep["jobs"]
    m["prepare.cpu_s"] = sampler.cpu_between(rec["t_warmup"], rec["t_prepare"])
    m["prepare.shuffle_write_mb"] = prep["shuffle_write_mb"]
    m["prepare.gc_s"] = prep["gc_s"]
    for name in PREPARE_ITEMS:
        m[f"prepare.item.{name}_s"] = items.get(name, 0.0)

    arts = list(rec["artifacts"].values())
    m["artifacts.cold"] = arts.count("cold")
    m["artifacts.warm"] = arts.count("warm")
    m["artifacts.store_mb"] = du_mb(store)

    # operation layers, per pass
    build_s = exec_s = drain_s = rows = build_jobs = wall = 0.0
    ex = {k: 0.0 for k in EXEC_COUNTERS}
    py = {k: 0.0 for k in eventlog.PYTHON_METRICS.values()}
    stage = {s: [0.0, 0.0] for s in LOAD_CLEAN_STAGES}
    for i, o in timed(rec):
        b, d = by.get(f"op:{i}:build", zero), by.get(f"op:{i}:drain", zero)
        last_end = max(b["last_job_end_s"], d["last_job_end_s"])
        drain = o["t_end"] - max(o["t_built"], min(last_end, o["t_end"]))
        lat = o["t_end"] - o["t0"]
        wall += lat
        build_s += o["t_built"] - o["t0"]
        drain_s += drain
        exec_s += o["t_end"] - o["t_built"] - drain
        rows += o.get("rows", 0)
        build_jobs += b["jobs"]
        for k in EXEC_COUNTERS:
            ex[k] = max(ex[k], b[k], d[k]) if k == "peak_mem_mb" else ex[k] + b[k] + d[k]
        for k in py:
            py[k] += b["python." + k] + d["python." + k]
        st = stage_of(o["op"]) if workload == "load_clean" else None
        if st:
            stage[st][0] += lat
            stage[st][1] += sampler.cpu_between(o["t0"], o["t_end"])

    m["build.s"] = build_s / passes
    m["build.jobs"] = build_jobs / passes
    m["exec.s"] = exec_s / passes
    for k in EXEC_COUNTERS:
        m[f"exec.{k}"] = ex[k] if k == "peak_mem_mb" else ex[k] / passes
    m["exec.busy_ratio"] = ex["run_s"] / (wall * cores()) if wall else 0.0
    for k, v in py.items():
        m[f"python.{k}"] = v / passes
    m["drain.s"] = drain_s / passes
    m["drain.rows"] = rows / passes
    for s, (secs, cpu) in stage.items():
        m[f"stage.{s}_s"] = secs / passes
        m[f"stage.{s}.cpu_s"] = cpu / passes

    e2e, info = end_to_end(rec, sampler)
    m["op.p50_s"] = info["op_p50_s"]
    m["op.tail_s"] = info["op_tail_s"]
    m["op.cpu_s"] = e2e["cpu_s"]
    m["session.rss_mb"] = info["rss_mb"]
    m["trace.setup_s"] = e2e["setup_s"]
    m["trace.wall_s"] = info["wall_s"]
    m["trace.unattributed_run_s"] = att["unattributed_run_s"]
    m["trace.attributed_ratio"] = (
        1 - att["unattributed_run_s"] / att["total_run_s"] if att["total_run_s"] else 1.0
    )
    return m


def check_artifacts(rec: dict) -> list[str]:
    """Every run starts on an empty store, so no artifact may read warm."""
    return [f"artifact {k} is warm on an empty store" for k, v in rec["artifacts"].items() if v != "cold"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SETTINGS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    pkg_dir = os.path.join(root, PKG)
    if not os.path.isfile(os.path.join(pkg_dir, "plans", "__init__.py")):
        log(f"no package at {pkg_dir}: run from the root of a checkout")
        return 2
    with open(os.path.join(HERE, "reference.json")) as f:
        reference = json.load(f)[args.workload]

    setting = SETTINGS[args.workload]
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    data = data_dir(setting["sf"])
    errors = [f"input {name} differs from the reference tables"
              for name, sha in reference["data_files"].items()
              if file_sha(os.path.join(data, f"{name}.parquet")) != sha]

    run_dir = new_run_dir(work, args.workload)
    try:
        store = os.path.join(run_dir, "store")
        spec = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "data_dir": data, "work_dir": run_dir,
                "prepare": setting["prepare"], "warm_passes": setting["warm_passes"],
                "reference": reference["ops"]}
        if args.trace:
            spec["event_log_dir"] = os.path.join(run_dir, "eventlog")
        rec, sampler = run_client(spec, run_dir, client_env(run_dir, store, data), RUN_TIMEOUT_S + args.seconds)
        if rec is None:
            return 1
        ops = rec["ops"]
        failed = [o for o in ops if not o["ok"]]
        errors += [f"{o['op']} (pass {o['pass']}): {o.get('error')}" for o in failed]
        if failed and reference["cores"] != cores():
            errors.append(f"reference digests were recorded on {reference['cores']} cores, "
                          f"this run has {cores()}")
        errors += check_artifacts(rec)
        metrics, info = end_to_end(rec, sampler)
        info["failed_ratio"] = len(failed) / len(ops)
        if args.trace:
            logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
            metrics = per_layer(rec, sampler, eventlog.read(logs[0]), store, args.workload)
        for name, v in sorted({**metrics, **info}.items()):
            if name not in ("op_latency_s", "op_cpu_s"):
                log(f"{name} = {v}")
        for e in errors[:20]:
            log(f"FAILED: {e}")
        result = {
            "correct": not errors,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()},
        }
        with open(os.path.join(work, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
            json.dump({**result, "info": info, "errors": errors}, f, indent=1)
        print(json.dumps(result))
        return 0 if not errors else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
