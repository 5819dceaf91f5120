"""CPU time and resident memory of a process tree, read from /proc.

The program under test is the Spark JVM that pyspark launches as a child
of the benchmark process, plus the Python workers the JVM forks. These
helpers sum over that tree. The benchmark's own process runs the
program's Python side too (DataFrame construction, ``foreachBatch``), so
its CPU is added by the caller, less that of the sampling thread here,
which is the benchmark's own overhead. Its memory is left out, because
it also holds the generated inputs and the reference computations.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # The command name may hold spaces; the fields after it are fixed.
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process was started (clock-tick resolution)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
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
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def workers_pss_bytes(root: int) -> int:
    """Summed proportional set size of the Python processes below
    ``root``. PSS splits the pages forked workers share with their
    parent, so the sum counts each page once."""
    return 1024 * sum(
        _pss_kb(pid) for pid in descendants(root)[1:] if _comm(pid).startswith("python")
    )


class RssPeak:
    """Peak memory of the program: the JVM's own high-water mark of
    resident memory (kept by the kernel, so no sample can miss it) plus
    the peak summed PSS of its Python workers, sampled on a background
    thread. Short-lived helpers the JVM spawns share its address space
    until they exec, so they are left out rather than counted twice.

    Each sample lists /proc, so its cost grows with the processes on the
    host; ``cpu_s`` is the CPU the sampling thread has used so far, for
    the caller to leave out of the program's CPU."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.workers = 0
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.workers = max(self.workers, workers_pss_bytes(self.root))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.workers = max(self.workers, workers_pss_bytes(self.root))
        self.peak = 1024 * _status_kb(self.root, "VmHWM:") + self.workers


def is_gone(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is None or fields[0] in ("Z", "X")
