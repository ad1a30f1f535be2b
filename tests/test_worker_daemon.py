"""worker_daemon's per-task cost fixes: lazy zipimport invalidation and
gc.freeze() after the preload.

The daemon module freezes the GC at import, so it is imported only in a
child interpreter (with Spark's pyspark.zip first on sys.path, the way
Python workers import pyspark), never in the pytest process.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark"

PROBE = r"""
import gc, importlib, json, os, sys, zipfile, zipimport

sys.path[:0] = ZIPS
importlib.import_module(PKG + ".worker_daemon")
import pyspark

calls = []
read_directory = zipimport._read_directory
def counting(archive):
    calls.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting

zip_finders = [f for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter)]
importlib.invalidate_caches()
calls.clear()
importlib.invalidate_caches()
second_reads = len(calls)

archive = os.path.join(TMP, "mods.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("probe_mod_a.py", "A = 1\n")
sys.path.insert(0, archive)
import probe_mod_a
st = os.stat(archive)
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("probe_mod_a.py", "A = 1\n")
    z.writestr("probe_mod_b.py", "B = 2\n")
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
calls.clear()
importlib.invalidate_caches()
rewrite_reads = calls.count(archive)
try:
    added_module = importlib.import_module("probe_mod_b").B
except ImportError:
    added_module = None

print(json.dumps({
    "pyspark_from_zip": ".zip" in pyspark.__file__,
    "zip_finders": len(zip_finders),
    "second_reads": second_reads,
    "rewrite_reads": rewrite_reads,
    "added_module": added_module,
    "freeze_count": gc.get_freeze_count(),
}))
"""


def _spark_zips() -> list[str]:
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = sorted(glob.glob(os.path.join(lib, "pyspark.zip")))
    return zips + sorted(glob.glob(os.path.join(lib, "py4j-*-src.zip")))


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    zips = _spark_zips()
    if not zips or not zips[0].endswith("pyspark.zip"):
        pytest.skip("needs SPARK_HOME/python/lib/pyspark.zip")
    src = f"ZIPS = {zips!r}\nPKG = {PKG!r}\nTMP = {str(tmp_path_factory.mktemp('zips'))!r}\n" + PROBE
    out = subprocess.run(
        [sys.executable, "-c", src], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archives_are_not_reread(probe):
    assert probe["pyspark_from_zip"]
    assert probe["zip_finders"] > 1
    assert probe["second_reads"] == 0


def test_rewritten_archive_is_reread(probe):
    assert probe["rewrite_reads"] == 1
    assert probe["added_module"] == 2


def test_preload_is_frozen(probe):
    assert probe["freeze_count"] > 0
