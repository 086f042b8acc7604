"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark process starts the Spark driver JVM, which starts the
PySpark daemon, which forks the Python workers. ``ProcTree`` covers all
of them: CPU is the sum over live processes of their own user+system time
plus the time of children they have already reaped (``cutime``/
``cstime``), so a Python worker that exits inside a measured window still
counts. Peak RSS is the largest summed ``VmRSS`` seen by a background
sampler.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(stat_text: str) -> list[str]:
    # the command name may contain spaces and parentheses: split after it
    return stat_text[stat_text.rindex(")") + 2:].split()


def parse_stat(stat_text: str) -> tuple[int, float]:
    """(ppid, cpu seconds incl. reaped children) from /proc/<pid>/stat."""
    f = _stat_fields(stat_text)
    # fields after the name start at field 3 (state): ppid=4, utime=14,
    # stime=15, cutime=16, cstime=17 in proc(5) numbering
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), ticks / _CLK_TCK


def parse_rss_kb(status_text: str) -> int:
    for line in status_text.splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1])
    return 0  # kernel threads and zombies have no VmRSS line


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(f"{proc}/{name}/stat")
        if text is None:
            continue
        ppid, _ = parse_stat(text)
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    total = 0.0
    for pid in tree_pids(root, proc):
        text = _read(f"{proc}/{pid}/stat")
        if text is not None:
            total += parse_stat(text)[1]
    return total


def tree_rss_mb(root: int, proc: str = "/proc") -> float:
    kb = 0
    for pid in tree_pids(root, proc):
        text = _read(f"{proc}/{pid}/status")
        if text is not None:
            kb += parse_rss_kb(text)
    return kb / 1024.0


class ProcTree:
    """Samples the tree under ``root`` every ``interval`` seconds.

    ``mark()`` starts a window: it records the tree's CPU total and resets
    the peak. ``cpu_s()`` and ``peak_rss_mb()`` report on the current
    window.
    """

    def __init__(self, root: int | None = None, interval: float = 0.5,
                 proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.proc = proc
        self._peak = 0.0
        self._cpu0 = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        rss = tree_rss_mb(self.root, self.proc)
        with self._lock:
            self._peak = max(self._peak, rss)
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "ProcTree":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def mark(self) -> None:
        with self._lock:
            self._peak = 0.0
        self._cpu0 = tree_cpu_s(self.root, self.proc)
        self.sample()

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root, self.proc) - self._cpu0

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak
