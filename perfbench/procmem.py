"""Peak resident memory and CPU time of the benchmark's process tree,
read from /proc.

The tree is the driver Python process, the Spark JVM it launches and the
Python workers the JVM forks. The driver and the JVM live for the whole
run, so their kernel-kept high-water mark (``VmHWM``) is exact. Workers
come and go, so their resident sets are sampled on a background thread
and the largest sampled sum is kept.
"""

from __future__ import annotations

import os
import threading

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return 0


def _scan() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the process and its reaped children)
    for every visible process."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces and parentheses; fields follow it
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return procs


def _tree(root: int, procs: dict[int, tuple[int, int]]) -> tuple[list[int], list[int]]:
    """(long-lived pids, worker pids): the root and its direct children
    (the JVM) are long-lived; everything deeper is a Python worker."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    direct = kids.get(root, [])
    workers: list[int] = []
    todo = [k for d in direct for k in kids.get(d, [])]
    while todo:
        pid = todo.pop()
        workers.append(pid)
        todo.extend(kids.get(pid, []))
    return [root, *direct], workers


def process_tree() -> tuple[list[int], list[int]]:
    """(long-lived pids, worker pids) of this process's tree."""
    return _tree(os.getpid(), _scan())


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process tree (the
    driver, its JVM and the Python workers, reaped ones included)."""
    procs = _scan()
    long_lived, workers = _tree(os.getpid(), procs)
    return sum(procs[p][1] for p in long_lived + workers if p in procs) / CLK_TCK


class PeakRss:
    """Samples the tree every ``interval_s`` until ``stop()``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.root = os.getpid()
        self.worker_peak_kb = 0
        self.parts_mb: list[float] = []  # per process, workers last
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        _, workers = _tree(self.root, _scan())
        self.worker_peak_kb = max(
            self.worker_peak_kb, sum(_rss_kb(p) for p in workers)
        )

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak of the whole tree in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        long_lived, _ = _tree(self.root, _scan())
        self.parts_mb = [_status_kb(p, "VmHWM") / 1024.0 for p in long_lived]
        self.parts_mb.append(self.worker_peak_kb / 1024.0)
        return sum(self.parts_mb)
