"""One benchmark client: a fresh process (so a fresh JVM) that sets up the
package and runs a workload's operations in a closed loop.

    python3 perfbench/client.py <spec.json>

``run.py`` writes the spec and reads the JSON record this writes to
``spec["out"]``. Every time is epoch seconds, so the record lines up with the
process-tree samples and the Spark event log.

The client sets up, runs one untimed first pass in registration order and
``warm_passes`` untimed passes over the seed-permuted operations, then
whole timed passes in the same order: at least ``MIN_PASSES``, and until
``seconds`` have elapsed. After each operation, outside its timed interval,
it compares the drained rows' digest with the reference.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PASSES = 5
PKG = "unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark"


# The JVM's own JIT work was the largest and least steady part of a pass's
# CPU time: with the default tiered compiler the JVM's CPU per pass was still
# falling after eight passes. Client-level compilation only (C1) settles within
# a few passes. In that mode the JVM shrinks its code cache to 48 MB, which a
# load_clean run outgrows (about 56 MB of compiled code), and code-cache sweeps
# then took up to 2 s of a pass; the cache keeps the tiered default, 240 MB.
# See README.md.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def session_conf(work_dir: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp {JVM_OPTS}",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(spec: dict, rec: dict):
    """Session, warm-up and ``plans.prepare``; returns (spark, plans)."""
    from importlib import import_module

    session = import_module(f"{PKG}.session")
    plans = import_module(f"{PKG}.plans")
    data = spec["data_dir"]
    spark = session.get_spark("perfbench", extra_conf=session_conf(spec["work_dir"], spec.get("event_log_dir")))
    rec["t_session"] = time.time()
    # Warm-up as in the repo's bench: a first job, and the Python worker
    # daemon with the package imported in its workers.
    spark.range(1).count()

    def ident(it):
        import_module(f"{PKG}.plans.queries_stream_mm")
        yield from it

    spark.range(64).select("id").mapInPandas(ident, schema="id long").count()
    rec["t_warmup"] = time.time()
    rec["prepare_items"] = plans.prepare(spark, data) if spec.get("prepare", True) else {}
    rec["t_prepare"] = time.time()
    return spark, plans


def main(spec_path: str) -> None:
    spec = json.load(open(spec_path))
    sys.path.insert(0, HERE)
    from digest import digest
    from workloads import operations

    artifacts = __import__(f"{PKG}.ml.artifacts", fromlist=["artifact_access_log"])
    rec: dict = {"t_spawn": spec["t_spawn"], "ops": []}
    spark, plans = setup(spec, rec)

    names = operations(spec["workload"], list(plans.REGISTRY))
    order = list(names)
    random.Random(spec["seed"]).shuffle(order)
    fns = {n: plans.REGISTRY[n].spark for n in names}
    reference = spec["reference"]
    data = spec["data_dir"]

    def run_pass(ops: list[str], n_pass: int) -> None:
        for name in ops:
            op = {"op": name, "pass": n_pass, "ok": False}
            op["t0"] = time.time()
            try:
                df = fns[name](spark, data)
                op["t_built"] = time.time()
                rows = df.collect()
                op["t_end"] = time.time()
                columns = df.columns
            except Exception as e:  # counted as failed, never dropped
                op.setdefault("t_built", time.time())
                op.setdefault("t_end", time.time())
                op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            else:
                op["rows"] = len(rows)
                got = digest(columns, rows)
                want = reference.get(name, {}).get("digest")
                op["ok"] = got == want
                if not op["ok"]:
                    op["error"] = f"digest {got[:12]} != reference {str(want)[:12]}"
                del rows
            rec["ops"].append(op)

    # Untimed passes, numbered -1, -2, ...: the first in registration order,
    # then the warm passes in the timed order. JIT compilation, lazy session
    # state and the Python-worker pool settle here.
    run_pass(names, -1)
    for n in range(spec["warm_passes"]):
        run_pass(order, -2 - n)
    t_meas = time.time()
    n_pass = 0
    while n_pass < MIN_PASSES or time.time() - t_meas < spec["seconds"]:
        run_pass(order, n_pass)
        n_pass += 1
    rec["passes"] = n_pass
    # Let the sampler (every 0.2 s) see the whole tree once more after the
    # last operation: once this process exits, the JVM leaves the tree.
    time.sleep(0.5)
    rec["artifacts"] = artifacts.artifact_access_log()
    if spec.get("event_log_dir"):
        spark.stop()  # flushes the event log
    with open(spec["out"], "w") as f:
        json.dump(rec, f)
    # run.py ends the rest of the process tree (JVM, Python workers)
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
