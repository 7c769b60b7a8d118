"""CPU and RSS of a process tree, read from ``/proc``.

``getrusage(RUSAGE_CHILDREN)`` only sees children that were waited for;
the JVM that pyspark launches is never reaped by the Python driver, so its
CPU (and that of the Python workers it forks) is invisible there. This
sampler walks the tree under a root PID every ``interval`` seconds and
keeps, per process (keyed by PID and start time, so a reused PID is a new
process), the last CPU time it read. CPU used between a process's last
sample and its exit is lost: at most ``interval`` per process that exits.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """-> (ppid, starttime, cpu_s, rss_bytes, state) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(b")") + 2:].split()
    # fields after the comm: state=0 ppid=1 ... utime=11 stime=12 starttime=19 rss=21
    return (
        int(rest[1]),
        int(rest[19]),
        (int(rest[11]) + int(rest[12])) / _HZ,
        int(rest[21]) * _PAGE,
        rest[0],
    )


def tree(root: int) -> dict[int, tuple]:
    """Live processes in the tree under ``root`` (root included)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


class TreeSampler:
    """Background sampler of one process tree; use as a context manager."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.cpu: dict[tuple[int, int], float] = {}
        self.base: dict[tuple[int, int], float] = {}
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        rss = 0
        for pid, (_pp, start, cpu, r, _s) in tree(self.root).items():
            self.cpu[(pid, start)] = cpu
            rss += r
        self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        # CPU a process had already used when sampling began is not ours
        self.base = dict(self.cpu)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def cpu_s(self) -> float:
        return sum(v - self.base.get(k, 0.0) for k, v in self.cpu.items())

    def pids(self) -> set[tuple[int, int]]:
        return set(self.cpu)


def reap(procs: set[tuple[int, int]], timeout: float = 30.0) -> None:
    """Wait until every (pid, start) in ``procs`` has exited; SIGKILL what
    is still alive after ``timeout`` seconds (e.g. an orphaned JVM)."""
    deadline = time.time() + timeout
    while True:
        alive = [
            pid for pid, start in procs
            if pid != os.getpid()
            and (st := _stat(pid)) is not None
            and st[1] == start
            and st[4] != b"Z"
        ]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def noise_probe(n: int = 3) -> float:
    """Best of ``n`` short CPU-bound loops, in ms: a diagnostic of how busy
    the host is, printed with each run (not a metric)."""
    best = float("inf")
    for _ in range(n):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        best = min(best, time.perf_counter() - t)
    return best * 1e3
