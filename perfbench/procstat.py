"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is a root process and all its descendants: for the benchmark
that is its own Python process, the JVM it launches and the Python
workers the JVM forks. CPU time counts every thread (``utime + stime``) plus
the time of children that already exited and were reaped
(``cutime + cstime``), so short-lived workers are not lost.

Memory is the proportional set size (PSS): resident pages, each shared
page split among the processes sharing it, so forked workers do not
count their parent's pages again. Processes younger than
``MIN_AGE_S`` are left out of memory sums: the JVM starts helper
commands with ``vfork``, and until that child execs it reports the
whole JVM's memory as its own.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIN_AGE_S = 0.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """CPU seconds of one process: own threads plus reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # after the comm split: utime=11, stime=12, cutime=13, cstime=14
    return sum(int(x) for x in f[11:15]) / _TICK


def mem_bytes(pid: int) -> int:
    """PSS of one process (RSS where the kernel has no smaps_rollup)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * _PAGE
        except OSError:
            return 0
    except OSError:
        return 0
    return 0


def age_s(pid: int) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _TICK  # field 22: starttime


def tree_cpu_seconds(root: int) -> float:
    return sum(cpu_seconds(p) for p in tree_pids(root))


def tree_mem_bytes(root: int) -> int:
    return sum(mem_bytes(p) for p in tree_pids(root) if p == root or age_s(p) >= MIN_AGE_S)


class PeakMem:
    """Samples the tree's summed PSS on a background thread and keeps
    the peak; use as a context manager around the measured phase."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-mem", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_mem_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMem":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_mem_bytes(self.root))
