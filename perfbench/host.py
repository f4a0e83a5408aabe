"""Host annotations: hypervisor steal, load average and process-tree memory;
and ending a process tree.

Steal is read from the aggregate ``cpu`` line of ``/proc/stat`` around a
timed window, the same method ``bench.py`` uses. Resident memory is sampled
for this process's descendants (the Spark JVM and the Python workers it
forks) by a background thread, as proportional set size (PSS, from
``/proc/<pid>/smaps_rollup``): forked workers share most of their pages
with the daemon they fork from, and plain RSS would count those pages once
per worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def proc_stat() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def loadavg1() -> float:
    return os.getloadavg()[0]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """Every descendant of ``root`` (not ``root`` itself)."""
    kids = _children()
    found, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def tree_pss_bytes(root: int) -> int:
    """PSS of every descendant of ``root`` (not ``root`` itself)."""
    total = 0
    for pid in descendants(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            continue
    return total


def _reap() -> None:
    """Collect every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 30.0) -> None:
    """Return once every descendant of this process has ended and been
    reaped. Descendants get ``grace`` seconds to end by themselves, then
    SIGTERM and as long again, then SIGKILL. Meant for a child subreaper,
    to which orphaned descendants are reparented, so it reaps them too."""
    me = os.getpid()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(me):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            _reap()
            if not descendants(me):
                return
            time.sleep(0.05)


class MemorySampler:
    """Peak PSS of this process's descendants while active.

    Between ``start`` and ``stop`` it samples every ``interval`` seconds;
    ``peak`` holds the highest sum seen."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


class Window:
    """Wall time, steal % and load average around one timed run."""

    def __enter__(self) -> "Window":
        self.load = loadavg1()
        self._stat = proc_stat()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.steal = steal_pct(self._stat, proc_stat())
