"""CPU seconds and resident memory of the benchmark's process tree, from /proc.

A background thread samples every descendant of this process (the Spark
JVM and its Python workers; this process itself is excluded, so the
harness's own bookkeeping is not charged to the program). For each pid it
keeps the maximum CPU time and RSS seen. Summing per-pid maxima still
counts a worker that exits mid-pass (at its last sample), which a
per-sample sum of live pids would drop.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, float, int] | None:
    """(ppid, starttime, cpu seconds, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state (field 3 of stat); utime/stime are fields 14/15
    return (int(fields[1]), int(fields[19]),
            (int(fields[11]) + int(fields[12])) / _CLK,
            int(fields[21]) * _PAGE)


def _tree(root: int) -> dict[tuple[int, int], tuple[float, int]]:
    """(pid, starttime) -> (cpu s, rss bytes) for every descendant of root."""
    stats = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                stats[int(d)] = s
                kids.setdefault(s[0], []).append(int(d))
    out, stack = {}, list(kids.get(root, []))
    while stack:
        p = stack.pop()
        ppid, start, cpu, rss = stats[p]
        out[(p, start)] = (cpu, rss)
        stack.extend(kids.get(p, []))
    return out


class Sampler:
    """Per-pid maxima of CPU and RSS over a window; ``mark()`` opens a new
    window and returns the CPU seconds and summed peak RSS of the last."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._cpu: dict[tuple[int, int], float] = {}
        self._rss: dict[tuple[int, int], int] = {}
        self._base: dict[tuple[int, int], float] = {}
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = _tree(os.getpid())
        with self._lock:
            for k, (cpu, rss) in tree.items():
                self._cpu[k] = max(self._cpu.get(k, 0.0), cpu)
                self._rss[k] = max(self._rss.get(k, 0), rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "Sampler":
        self.mark()
        self._thread.start()
        return self

    def mark(self) -> tuple[float, float]:
        """(cpu seconds, peak RSS MB) since the previous mark."""
        self._sample()
        with self._lock:
            cpu = sum(v - self._base.get(k, 0.0) for k, v in self._cpu.items())
            rss = sum(self._rss.values()) / 2 ** 20
            self._base = dict(self._cpu)
            self._rss = {}
        return cpu, rss

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
