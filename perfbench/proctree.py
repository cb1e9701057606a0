"""CPU time and memory of a process tree, read from /proc.

The benchmark's process tree is the driver Python process, the Spark JVM
it launches and the Python workers the JVM forks. Steal time is not CPU
time, so `tree_cpu_s` is steadier than wall time on a shared host.

Memory is the tree's proportional set size (PSS): a page shared by k
processes counts 1/k to each. PySpark's Python workers are forked from one
daemon and share its pages copy-on-write, so summing RSS would count those
pages once per live worker and follow how many workers happen to exist.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including reaped children
    (their time sits in the parent's cutime/cstime)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: host context, never a metric."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pss_kb(pid: int) -> int:
    """PSS of one process in KiB; 0 if it has ended."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(pss_kb(pid) for pid in descendants(root)) / 1024


class PeakMem:
    """Samples the tree's PSS on a thread until stopped; keeps the peak
    since the last `take()`.

    Reading smaps_rollup of a multi-GB JVM costs tens of milliseconds of
    kernel time, charged to this process; `cpu_s` accumulates it so the
    caller can leave the sampler out of the tree's CPU time."""

    def __init__(self, root: int, period_s: float = 0.5):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="peak-mem", daemon=True
        )

    def _sample(self) -> None:
        c = time.thread_time()
        mb = tree_pss_mb(self.root)
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)
            self.cpu_s += time.thread_time() - c

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period_s):
                return

    def take(self) -> float:
        """The peak since the previous take (or start); restarts it."""
        self._sample()
        with self._lock:
            peak, self.peak_mb = self.peak_mb, 0.0
        return peak

    def __enter__(self) -> "PeakMem":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
