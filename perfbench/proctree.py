"""Process-tree sampler over ``/proc``.

Samples a root process and all its descendants (driver Python, the JVM, the
Python worker daemon and its forked workers) at a fixed interval, without
touching the sampled program. Each sample holds the tree's cumulative CPU
seconds, its summed resident memory (pages that forked workers share count
once per process), and the Python-worker count and RSS.

CPU counts ``utime+stime`` of live processes plus ``cutime+cstime`` (reaped
children), so a worker that exits keeps its CPU in its parent's total.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK
    return ppid, cpu, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def tree(root: int) -> dict[int, tuple[int, float, int]]:
    """{pid: (ppid, cpu_s, rss)} for ``root`` and its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                procs[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


class Sampler(threading.Thread):
    """Samples ``root``'s tree every ``interval`` seconds until stopped.

    ``samples`` is a list of (t, cpu_s, rss_bytes, n_py_workers, py_worker_rss).
    Only ``stat`` is read: walking ``smaps`` for proportional sizes takes the
    sampled process's memory-map lock and measurably slows the JVM.
    Python workers are the children of the worker daemon (the process started
    as ``python -m <...worker_daemon>``)."""

    def __init__(self, root: int, daemon_marker: bytes = b"worker_daemon", interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.marker, self.interval = root, daemon_marker, interval
        self.samples: list[tuple[float, float, int, int, int]] = []
        self._stop_evt = threading.Event()
        self._daemons: dict[int, bool] = {}
        self.seen: set[int] = set()

    def _runs_daemon_module(self, pid: int) -> bool:
        args = _cmdline(pid).split(b"\0")
        return any(a == b"-m" and self.marker in b for a, b in zip(args, args[1:]))

    def _is_daemon(self, pid: int, ppid: int) -> bool:
        # forked workers share the daemon's command line; the daemon's
        # parent (the JVM) does not run the module
        if pid not in self._daemons:
            self._daemons[pid] = self._runs_daemon_module(pid) and not self._runs_daemon_module(ppid)
        return self._daemons[pid]

    def sample(self) -> None:
        procs = tree(self.root)
        t = time.time()
        if not procs:
            return
        self.seen.update(procs)
        daemons = {p for p, (pp, _, _) in procs.items() if self._is_daemon(p, pp)}
        workers = [p for p, (pp, _, _) in procs.items() if pp in daemons]
        self.samples.append((
            t,
            sum(c for _, c, _ in procs.values()),
            sum(r for _, _, r in procs.values()),
            len(workers),
            sum(procs[p][2] for p in workers),
        ))

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def cpu_at(self, t: float) -> float:
        """Tree CPU seconds at time ``t``, interpolated between samples."""
        s = self.samples
        if not s:
            return 0.0
        i = bisect.bisect_left(s, (t,))
        if i == 0:
            return s[0][1]
        if i >= len(s):
            return s[-1][1]
        (t0, c0, *_), (t1, c1, *_) = s[i - 1], s[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1

    def cpu_between(self, a: float, b: float) -> float:
        return max(0.0, self.cpu_at(b) - self.cpu_at(a))
