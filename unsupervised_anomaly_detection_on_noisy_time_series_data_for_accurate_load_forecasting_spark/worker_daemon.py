"""Custom PySpark worker daemon: pre-import the heavy Python dependencies
ONCE in the daemon process so every forked worker inherits them via
copy-on-write (r15 optimization, guide §4.5 taken to the process level),
and strip the fixed per-task cost a reused worker pays before it runs.

Python workers are forked from the daemon per task and, with
``spark.python.worker.reuse=true``, pooled afterwards — but any event that
drains the pool (worker exit, streaming query teardown, memory pressure)
makes the next Arrow-island stage pay a fresh ``import numpy/pandas/pyarrow
+ engine package`` in EVERY concurrently forked worker. Measured during
bench runs: the pure-Python codec islands (mm_png/mm_wav/...) ran 1.4 s
isolated but 5–15 s in-bench whenever they landed on a cold pool — 32
simultaneous cold imports, ~2–4 s each, serialized behind page-cache and
CPU contention, dwarfing the ~10 ms of actual per-task codec work.

Importing here moves that cost to one single import at daemon startup;
forks afterwards are ~ms regardless of pool state. The worker-side module
state is identical (same modules, same versions) — imports are idempotent
and Spark's worker protocol is unchanged; we delegate straight to the
stock ``pyspark.daemon`` manager loop.

Two further costs hit every task of a reused worker, ~0.28 s of CPU
against 0.02–0.04 s of actual ``gen`` work per task in the paper
pipeline's AE-imputation and GRU/SCINet islands (sf0.001, Python 3.11):

* ~0.2 s — ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` per task, and before Python 3.12 each
  ``zipimporter`` (~16 per worker: one per package directory inside
  pyspark.zip / the py4j zip) eagerly re-parses its archive's central
  directory (1,328 entries for pyspark.zip). ``_lazy_zip_invalidation``
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed,
  otherwise re-binds the shared ``zipimport._zip_directory_cache`` entry
  (3.12 made the invalidation lazy, gh-103200; the patch is skipped there).
* ~0.06 s — ``pyspark.daemon`` runs a full ``gc.collect()`` after every
  task, walking the ~76k objects inherited from the preload. ``gc.freeze()``
  at the end of the preload (before any fork, the documented fork-server
  pattern) moves them to the permanent generation: each collection scans
  only task-created objects and the inherited pages stay shared.

Together they cut a trivial 4-task ``mapInPandas`` from 1.1 s to 0.02 s of
worker CPU.

Enabled via ``spark.python.daemon.module`` in session.get_spark (only
consulted on non-Windows, where the fork daemon is in use — the same
condition under which this optimization applies at all).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def _preload() -> None:
    for mod in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyarrow.compute",
        "pyspark.sql.pandas.serializers",
        "pyspark.sql.pandas.types",
        # the engine package chain the Arrow islands reference (workers
        # import it when unpickling island closures by reference; the
        # plans modules only build SQL strings / register specs at import)
        __package__ + ".plans.queries_stream_mm",
    ):
        try:
            importlib.import_module(mod)
        except Exception:  # pragma: no cover - preload is best-effort
            pass


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive's ``(st_mtime_ns, st_size)`` differs from the last read."""
    if sys.version_info >= (3, 12):
        return
    eager = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamp is not None and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            # stamp taken before the read: an archive rewritten mid-read is
            # re-read on the next invalidation
            eager(self)
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()
_preload()
# one read per archive here, so forked workers inherit the stamps
importlib.invalidate_caches()
gc.freeze()


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
