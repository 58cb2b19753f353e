"""Process-tree accounting from /proc: CPU seconds, resident memory and
run-queue wait of this process and every descendant (driver JVM, pyspark
daemon, Python workers).

CPU includes each live process's reaped children (cutime/cstime), so a
worker that exits and is reaped by its parent between two readings is
still counted once.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return int(rest[1]), rest  # ppid, fields from state onward


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid, _ = _stat(int(d))
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    ticks = 0
    for p in tree_pids():
        try:
            _, f = _stat(p)
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / _CLK


def tree_runq_s() -> float:
    """Time the tree's threads were runnable but waiting for a CPU
    (schedstat run delay), summed over every thread."""
    ns = 0
    for p in tree_pids():
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/schedstat") as f:
                    ns += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return ns / 1e9


def vm_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat. Steal
    is time this VM's CPUs were ready to run but the hypervisor ran another
    guest; it slows every process here and no process's CPU time shows it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def tree_rss_mb() -> float:
    """Resident memory of the tree with pages shared between processes
    (forked Python workers share most of theirs) counted once: summed PSS."""
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, IndexError, ValueError, StopIteration):
            pass
    return kb / 1024


class RssSampler:
    """Samples ``tree_rss_mb`` every ``interval`` seconds on a thread while
    the ``with`` block runs; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[1][0] != "Z"
    except (OSError, IndexError, ValueError):
        return False


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running, also those that were
    re-parented away from this process; returns the ones still running at
    the deadline (empty on success)."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)
