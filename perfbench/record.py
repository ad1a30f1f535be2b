"""Record the reference digests the benchmark checks results against.

    python3 perfbench/record.py            # from the root of a checkout

Runs every operation of each workload once on Spark over the workload's
input tables (``perfbench/data``) and, where the query registers an oracle,
runs the oracle on DuckDB over the same tables and compares the rows with
``tools/check.py``'s rule (a pass there, bit-exact or within its float
tolerance, is a pass here). An operation is recorded only if it ran and its
oracle (if any) agreed; the digest of its sorted rows goes to
``perfbench/reference.json``, per workload, together with the SHA-256 of
every input table and the core count. Exits 1 if any operation was not
recorded.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import client_env, cores, data_dir, file_sha, new_run_dir  # noqa: E402
from workloads import SETTINGS, operations  # noqa: E402


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    run_dir = new_run_dir(work, "record")
    os.environ.update(client_env(run_dir, os.path.join(run_dir, "store"), ""))
    sys.path.insert(0, os.getcwd())

    import duckdb

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check import compare  # the oracle check's row comparison

    from client import setup
    from digest import digest

    out, missing = {}, []
    for workload, setting in SETTINGS.items():
        data = data_dir(setting["sf"])
        tables = sorted(f[: -len(".parquet")] for f in os.listdir(data) if f.endswith(".parquet"))
        # numpy-mirror oracles read their input from this directory
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
        spark, plans = setup({"data_dir": data, "work_dir": run_dir, "prepare": setting["prepare"]}, {})
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        ops = {}
        for name in operations(workload, list(plans.REGISTRY)):
            t0 = time.time()
            try:
                df = plans.REGISTRY[name].spark(spark, data)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:
                missing.append(f"{name}: spark error {type(e).__name__}: {str(e)[:200]}")
                continue
            oracle = plans.REGISTRY[name].oracle
            oracle = oracle() if callable(oracle) else oracle
            verdict = "rows-only"
            if oracle:
                res = con.execute(oracle)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                diff = "columns differ" if sorted(cols) != sorted(dcols) else compare(
                    [tuple(r[cols.index(c)] for c in sorted(cols)) for r in rows],
                    [tuple(r[dcols.index(c)] for c in sorted(dcols)) for r in drows],
                    sorted(cols),
                )
                if diff and not diff.startswith("OK-approx"):
                    missing.append(f"{name}: oracle mismatch: {diff}")
                    continue
                verdict = "oracle"
            ops[name] = {"rows": len(rows), "digest": digest(cols, rows), "check": verdict}
            print(f"{workload} {verdict:9s} {name} ({len(rows)} rows, {time.time() - t0:.1f}s)", flush=True)
        out[workload] = {
            "sf": setting["sf"],
            "cores": cores(),
            "data_files": {t: file_sha(os.path.join(data, f"{t}.parquet")) for t in tables},
            "ops": ops,
        }
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for m in missing:
        print(f"NOT RECORDED {m}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
